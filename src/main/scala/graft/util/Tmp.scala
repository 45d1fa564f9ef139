package graft.util

/** Temp directories deleted at JVM exit — the ONE copy of the
  * createTempDirectory + shutdown-hook + recursive-delete logic (Bench
  * and the test harness stage multi-hundred-MB corpora/indexes;
  * bare temp dirs leaked ~48 GB of /tmp across rounds of runs before
  * this existed).
  */
object Tmp {
  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }

  // ONE shutdown hook draining a concurrent list — a hook thread per dir
  // accumulates unbounded threads in long-lived JVMs (test harness,
  // repeated bench sections; ADVICE r04)
  private val pending = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private val hooked = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** A fresh temp dir, removed when this JVM exits. */
  def dir(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(tag)
    pending.add(p)
    if (hooked.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        var q = pending.poll()
        while (q != null) { rmTree(q.toFile); q = pending.poll() }
      }))
    p.toString
  }
}
