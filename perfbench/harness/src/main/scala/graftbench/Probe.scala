package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

/** How fast this machine's CPUs run right now. A daemon thread times a
  * fixed loop (about a third of a millisecond of integer work over an
  * array that fits in L1) in thread CPU time, every 10 ms.
  *
  * On a shared virtual machine the same work takes from 1x to about
  * 1.7x the CPU-seconds, with the load that other machines put on the
  * host (clock speed, shared cores and caches), and that load changes
  * over tens of seconds. An op's CPU-seconds divided by `speed` over
  * the op's own window are its CPU-seconds at the reference speed: the
  * speed at which one loop takes `RefLoopNs`.
  */
final class SpeedProbe extends Thread("perfbench-speed-probe") {
  import SpeedProbe._
  setDaemon(true)

  private val mx = ManagementFactory.getThreadMXBean
  private val data = Array.tabulate(4096)(i => i * 0x9E3779B9)
  @volatile private var sink = 0
  @volatile private var running = true
  // (nanoTime at the loop's end, the loop's thread CPU ns)
  private val samples = mutable.ArrayBuffer.empty[(Long, Long)]

  private def loop(): Int = {
    var x = 0; var r = 0
    while (r < Rounds) {
      var i = 0
      while (i < data.length) { x = x * 31 + data(i); i += 1 }
      r += 1
    }
    x
  }

  override def run(): Unit = while (running) {
    val c0 = mx.getCurrentThreadCpuTime
    sink = loop()
    val c1 = mx.getCurrentThreadCpuTime
    samples.synchronized(samples += ((System.nanoTime(), c1 - c0)))
    Thread.sleep(IntervalMs)
  }

  def finish(): Unit = { running = false; join() }

  /** The probe's own CPU time so far, ns, to leave out of the JVM's. */
  def ownCpuNs: Long = mx.getThreadCpuTime(getId)

  /** Loop time over [t0, t1] (nanoTime) as a multiple of `RefLoopNs`:
    * 2.0 when CPU work takes twice as long as at the reference speed.
    */
  def speed(t0: Long, t1: Long): Double = samples.synchronized {
    val in = samples.iterator.filter { case (t, _) => t >= t0 && t <= t1 }.map(_._2).toSeq
    if (in.isEmpty) 1.0 else in.sum.toDouble / in.size / RefLoopNs
  }

  /** Every loop time since the start, ns. */
  def loopTimesNs: Seq[Long] = samples.synchronized(samples.map(_._2).toSeq)
}

object SpeedProbe {
  val Rounds = 64
  val IntervalMs = 10L
  /** One loop's CPU time at the reference speed, ns: about the lower
    * decile of loop times in runs on a 4-core Xeon (Sapphire Rapids)
    * VM. Only a scale; what matters is that it never changes.
    */
  val RefLoopNs = 300000.0
}
