package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.WriteLock

/** The generation roots' single-writer guard (IvfGen, DedupGen). */
class WriteLockSpec extends AnyFunSuite {

  test("writers in one JVM hold a root's lock one at a time; another root is independent") {
    val root = Paths.get(SparkTestBase.tmpDir("wlock-threads"))
    val inside = new AtomicInteger
    val most = new AtomicInteger
    val threads = (1 to 4).map(_ => new Thread(() => (1 to 20).foreach { _ =>
      WriteLock(root) {
        most.accumulateAndGet(inside.incrementAndGet(), math.max)
        Thread.sleep(1)
        inside.decrementAndGet()
      }
    }))
    threads.foreach(_.start())
    // a holder of another root is not held up by them
    assert(WriteLock(root.resolve("other"))(1) == 1)
    threads.foreach(_.join())
    assert(most.get == 1, "two writers held one root's lock at once")
    assert(Files.exists(root.resolve("_wlock")))
  }

  test("a holder that takes its root's lock again fails with a named error, and keeps its hold") {
    val root = Paths.get(SparkTestBase.tmpDir("wlock-reenter"))
    val out = WriteLock(root) {
      val e = intercept[IllegalStateException](WriteLock(root)(()))
      assert(e.getMessage.contains(root.toString), e.getMessage)
      "outer"
    }
    assert(out == "outer")
    assert(WriteLock(root)(2) == 2, "the lock must be free after the outer hold")
  }

  test("a writer waits while another process holds the root and proceeds once it is killed") {
    val root = SparkTestBase.tmpDir("wlock-xproc")
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val child = new ProcessBuilder(javaBin, "-Xmx32m", "-cp", System.getProperty("java.class.path"),
      "graft.WriteLockHolder", root)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val done = new CountDownLatch(1)
    val result = new AtomicReference[scala.util.Try[Int]]()
    val writer = new Thread(() => { result.set(scala.util.Try(WriteLock(Paths.get(root))(3))); done.countDown() })
    try {
      val line = new java.io.BufferedReader(
        new java.io.InputStreamReader(child.getInputStream)).readLine()
      assert(line == "locked", s"the child did not take the lock: $line")
      writer.start()
      assert(!done.await(2, TimeUnit.SECONDS), "a writer ran while another process held the lock")
      child.destroyForcibly().waitFor() // the kernel frees a dead holder's lock
      assert(done.await(60, TimeUnit.SECONDS), "the writer still waits after the holder was killed")
    } finally child.destroyForcibly()
    assert(result.get == scala.util.Success(3))
  }
}

/** Holds `WriteLock(args(0))` for a spec: prints `locked` inside the hold
  * and keeps it until its stdin closes or it is killed. Run as a child
  * JVM on the test classpath. */
object WriteLockHolder {
  def main(args: Array[String]): Unit = WriteLock(Paths.get(args(0))) {
    println("locked")
    System.out.flush()
    while (System.in.read() >= 0) ()
  }
}
