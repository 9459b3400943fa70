package graft

/** Cross-process coordination for timing-sensitive runs.
  *
  * Round 18 shipped four bench flags whose cause — the artifact refresh
  * and the driver bench overlapping on one machine — had to be INFERRED
  * from adjudication evidence. This makes it mechanical:
  *
  *  - JVM MARKERS: every graft main registers `/tmp/graft_jvm_<pid>`;
  *    [[otherGraftJvms]] counts live peers, and the bench artifacts stamp
  *    the count, so contamination is a machine-readable field instead of
  *    a forensic conclusion.
  *  - BENCH LOCK: `/tmp/graft_bench.lock`, an OS file lock held for the
  *    whole timed sweep. Concurrent benches (driver bench vs a refresh's
  *    bench/slope phases) SERIALIZE instead of corrupting each other's
  *    timings, and a lock holder that dies releases it automatically —
  *    no stale-lockfile failure mode. Acquisition is bounded: after
  *    `maxWaitS` the bench proceeds anyway (a bench that never runs is
  *    worse than a contaminated one) and says so in the artifact.
  */
object RunCoord {

  private val markerDir = java.nio.file.Paths.get("/tmp")

  private def pid: Long = ProcessHandle.current().pid()

  /** Register this JVM's marker (idempotent; cleaned by shutdown hook —
    * and a dead JVM's leftover marker is ignored by the liveness check). */
  def registerJvm(): Unit = {
    val m = markerDir.resolve(s"graft_jvm_$pid")
    try {
      java.nio.file.Files.write(m, Array.emptyByteArray)
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try java.nio.file.Files.deleteIfExists(m) catch { case _: Exception => () }))
    } catch { case _: Exception => () }
  }

  /** Live graft JVMs other than this one (marker present AND /proc alive;
    * dead markers are swept so the count self-heals). */
  def otherGraftJvms(): Int = {
    try {
      val s = java.nio.file.Files.list(markerDir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.count { p =>
          val n = p.getFileName.toString
          if (!n.startsWith("graft_jvm_")) false
          else n.stripPrefix("graft_jvm_").toLongOption match {
            case Some(other) if other == pid => false
            case Some(other) =>
              val alive = java.nio.file.Files.exists(
                java.nio.file.Paths.get(s"/proc/$other"))
              if (!alive)
                try java.nio.file.Files.deleteIfExists(p)
                catch { case _: Exception => () }
              alive
            case None => false
          }
        }
      } finally s.close()
    } catch { case _: Exception => 0 }
  }

  /** Runs `body` holding the machine-wide bench lock, waiting at most
    * `maxWaitS` seconds for it; returns (lock held, seconds waited,
    * result). After a timed-out wait (or any failure to lock) `body` runs
    * unserialized — the caller stamps that in its artifact. Closing the
    * channel releases the lock. */
  def withBenchLock[T](maxWaitS: Int)(body: => T): (Boolean, Double, T) = {
    val t0 = System.nanoTime()
    def waited = (System.nanoTime() - t0) / 1e9
    val ch = try Some(java.nio.channels.FileChannel.open(
        markerDir.resolve("graft_bench.lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE))
      catch { case _: Exception => None }
    try {
      val held = try ch.exists { c =>
        var lock = c.tryLock()
        while (lock == null && waited < maxWaitS) { Thread.sleep(2000); lock = c.tryLock() }
        lock != null
      } catch { case _: Exception => false }
      (held, waited, body) // evaluated in order: `waited` excludes `body`
    } finally ch.foreach(c => try c.close() catch { case _: Exception => () })
  }
}
