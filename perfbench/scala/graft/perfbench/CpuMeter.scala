package graft.perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** CPU time the program spends, in ns: the process's CPU time (every
  * thread, garbage collection included) less the JIT compiler threads
  * (JVM warm-up, not the program's work) and the benchmark's own client
  * threads. Host steal is time the process did not run, so unlike wall
  * time this reading does not move with the neighbours' load.
  *
  * Client threads register themselves and report their own CPU time when
  * they finish; the JDK HTTP client's threads are found by name. */
object CpuMeter {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
  private val harnessNs = new java.util.concurrent.atomic.AtomicLong

  /** Called by a harness thread as its last act. */
  def harnessThreadDone(): Unit = harnessNs.addAndGet(threads.getCurrentThreadCpuTime)

  private def excludedLive(): Long =
    threads.getThreadInfo(threads.getAllThreadIds).iterator.filter(_ != null)
      .filter { t =>
        val n = t.getThreadName
        n.contains("CompilerThread") || n.startsWith("HttpClient")
      }
      .map(t => math.max(0L, threads.getThreadCpuTime(t.getThreadId))).sum

  /** A reading; the difference of two is the program's CPU between them. */
  def read(): Long = os.getProcessCpuTime - excludedLive() - harnessNs.get
}
