package graft

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}

/** The local filesystem under the `hooked:` scheme, with a one-shot
  * hook on `open`: a test arms it with a path predicate and an action,
  * and the first open of a matching path runs the action before the
  * open proceeds. That places a racing commit at an exact point of the
  * code under test — the seam for deterministic interleaving tests.
  * Register it on a session with `HookedFileSystem.register`. */
class HookedFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("hooked:///")
  override def getScheme: String = "hooked"
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    HookedFileSystem.fire(f)
    super.open(f, bufferSize)
  }
}

object HookedFileSystem {
  private val armed =
    new java.util.concurrent.atomic.AtomicReference[(Path => Boolean, () => Unit)]()

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set("fs.hooked.impl", classOf[HookedFileSystem].getName)

  /** `hooked:` form of a local path. */
  def path(local: String): String =
    "hooked://" + new java.io.File(local).getAbsolutePath

  /** Arm the hook: the next open of a path matching `when` runs
    * `action` once (on the opening thread), then the hook disarms. */
  def once(when: Path => Boolean)(action: => Unit): Unit =
    armed.set((when, () => action))

  /** Whether an armed hook is still waiting for its path. */
  def pending: Boolean = armed.get != null

  def disarm(): Unit = armed.set(null)

  private def fire(f: Path): Unit = {
    val h = armed.get
    if (h != null && h._1(f) && armed.compareAndSet(h, null)) h._2()
  }
}
