package perfbench

import scala.collection.mutable

/** How fast the shared host runs while a run goes on, from a fixed CPU
  * kernel timed between operations, when the engine is idle.
  *
  * The benchmark's host is a few cores of a machine other tenants share,
  * and its speed drifts by a fifth or more from one minute to the next;
  * every time the engine takes drifts with it. The kernel is benchmark
  * code that no change to the engine touches, so its time tells the
  * host's speed apart from the engine's.
  */
final class HostSpeed {
  import HostSpeed._

  private val samples = mutable.ArrayBuffer.empty[Double]

  /** Times the kernel now and keeps the result. */
  def sample(): Unit = samples += unitMs()

  /** The median kernel time of the run so far, in milliseconds. */
  def kernelMs: Double = Main.median(samples.toSeq)

  /** Factor that scales a time measured in this run to the reference
    * host: below 1 when the host ran slower than the reference. */
  def scale: Double = ReferenceKernelMs / kernelMs
}

object HostSpeed {
  /** The kernel's median time on the reference host, a 4-core VM. */
  val ReferenceKernelMs = 1.5

  private val Size = 1 << 16
  private val table = {
    val r = new java.util.SplittableRandom(42)
    Array.fill(Size)(r.nextInt(Size))
  }
  @volatile private var sink = 0

  /** A dependent walk over a 256 KB table with integer mixing: cache
    * reads and arithmetic, as the engine's own work has. */
  private def kernel(steps: Int): Int = {
    var i = 0
    var x = 1
    var k = 0
    while (k < steps) {
      i = table((i ^ x) & (Size - 1))
      x = x * 31 + i
      k += 1
    }
    x
  }

  private def timeOnce(): Double = {
    val t0 = System.nanoTime()
    sink += kernel(200000)
    (System.nanoTime() - t0) / 1e6
  }

  /** Milliseconds of one kernel unit: the median of nine timings. */
  def unitMs(): Double = (1 to 9).map(_ => timeOnce()).sorted.apply(4)

  /** Compiles the kernel before its first sample. */
  def warm(): Unit = (1 to 30).foreach(_ => timeOnce())
}
