package perfbench

import scala.collection.mutable

/** What one measured window saw: latency samples per operation kind, the
  * work done, and the operations attempted and failed. An operation
  * fails when it throws or when its output disagrees with the
  * benchmark's model. */
final class Window(val traced: Boolean) {

  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val failures = mutable.ArrayBuffer.empty[String]
  var work = 0L
  var busyMs = 0.0
  var cpuMs = 0.0
  var attempted = 0L
  var failed = 0L
  var wallMs = 0.0
  private var lastOk = true

  def sample(kind: String, ms: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms

  /** Time one operation. Its latency counts as a sample of `kind` and
    * toward busy time, and the CPU time the whole process spent meanwhile
    * (driver, executors, GC, JIT) toward CPU time; an exception counts it
    * as failed. */
  def op[T](kind: String, work: Long = 1L, record: Boolean = true)
           (body: => T): Option[T] = {
    attempted += 1
    lastOk = true
    val t0 = System.nanoTime()
    val cpu0 = Window.processCpuNs()
    try {
      val r = body
      val ms = (System.nanoTime() - t0) / 1e6
      if (record) sample(kind, ms)
      busyMs += ms
      cpuMs += (Window.processCpuNs() - cpu0) / 1e6
      this.work += work
      Some(r)
    } catch {
      case e: Exception =>
        lastOk = false
        failed += 1
        failures += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        None
    }
  }

  /** A correctness check on the last operation: a mismatch fails it
    * (once, however many of its checks disagree). */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    if (!ok) {
      if (lastOk) failed += 1
      lastOk = false
      failures += s"$name: $detail".take(300)
    }

  def record: Map[String, Any] = Map(
    "traced" -> traced, "wall_ms" -> wallMs, "busy_ms" -> busyMs, "cpu_ms" -> cpuMs,
    "work" -> work, "attempted" -> attempted, "failed" -> failed,
    "failures" -> failures.toSeq,
    "samples" -> samples.map { case (k, v) => k -> v.toSeq })
}

object Window {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuNs(): Long = os.getProcessCpuTime
}
