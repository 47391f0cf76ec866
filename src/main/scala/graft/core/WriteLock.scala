package graft.core

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, StandardOpenOption}
import java.util.concurrent.ConcurrentHashMap

/** The single-writer guard of a generation root (IvfGen, DedupGen): a
  * JVM-wide monitor per root, then an exclusive OS lock on
  * `<root>/_wlock` for the whole of `f`, so two committers in one JVM or
  * in two processes serialize and exactly one wins each generation.
  * `FileChannel` locks are held per process (a second attempt from the
  * same JVM throws instead of blocking), which is why same-JVM writers
  * queue on the monitor first; the kernel frees a dead holder's lock.
  * A holder that calls back in fails with a named error instead of the
  * channel's `OverlappingFileLockException`. (HelixStore's `_mutex` is
  * held the same way, behind a semaphore, because a thread other than
  * the one that took it may drop its hold count.) */
object WriteLock {
  private val monitors = new ConcurrentHashMap[Path, Object]()

  def apply[T](root: Path)(f: => T): T = {
    val monitor = monitors.computeIfAbsent(root.toAbsolutePath.normalize, _ => new Object)
    if (Thread.holdsLock(monitor))
      throw new IllegalStateException(s"write lock on $root re-entered by its holder")
    monitor.synchronized {
      Files.createDirectories(root)
      val ch = FileChannel.open(root.resolve("_wlock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lock = ch.lock() // blocks until any other process releases
        try f finally lock.release()
      } finally ch.close()
    }
  }
}
