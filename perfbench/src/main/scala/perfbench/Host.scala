package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Host- and JVM-level probes the runner reads around the engine. */
object Host {

  /** Median wall time (ms) of a fixed single-thread integer/float
    * kernel: it does the same work on every host and every run, so a
    * change in it is drift of the machine, never of the engine. */
  def calibrate(reps: Int = 7): Double = {
    var sink = 0L
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var acc = 0.0
      var i = 0
      while (i < 20000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += (x & 0xFFFF).toDouble * 1e-6
        i += 1
      }
      sink += x + acc.toLong
      (System.nanoTime() - t0) / 1e6
    }
    if (sink == 42) System.err.print("")
    median(ts)
  }

  /** Page-cache pre-touch of the input tree, as the engine's own bench
    * harness does: MB/s reading one file first, then every file. */
  def pretouch(dir: File): (Double, Double) = {
    val files = Option(dir.listFiles()).toSeq.flatten.filter(_.isFile).sortBy(_.getName)
    def sweep(fs: Seq[File]): Double = {
      val buf = new Array[Byte](1 << 20)
      val t0 = System.nanoTime()
      var n = 0L
      fs.foreach { f =>
        val in = new java.io.FileInputStream(f)
        try {
          var r = in.read(buf)
          while (r >= 0) { n += r; r = in.read(buf) }
        } finally in.close()
      }
      val s = (System.nanoTime() - t0) / 1e9
      if (s > 0) n / 1e6 / s else 0.0
    }
    (sweep(files.take(1)), sweep(files))
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum
    else if (f.isFile) f.length()
    else 0L

  def deleteTree(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete(); ()
  }

  /** Hadoop FileSystem byte counts of the `file` scheme (cumulative; the
    * local file system counts no read or write operations). */
  def fsStats(): Map[String, Long] = {
    val st = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    def get(k: String): Long = Option(st).flatMap(s => Option(s.getLong(k))).map(_.longValue).getOrElse(0L)
    Map("bytes_read" -> get("bytesRead"), "bytes_written" -> get("bytesWritten"))
  }

  /** (classes compiled, total compile ns) of Spark's code generator. */
  def codegen(): Seq[Long] = Seq(
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  /** CPU time of this process so far, in ns. */
  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  /** (all, stolen) CPU ticks of the machine so far, from /proc/stat:
    * steal is time the hypervisor ran someone else on our CPUs. */
  def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (f.sum, if (f.length > 7) f(7) else 0L)
      } finally src.close()
    } catch { case _: Throwable => (0L, 0L) }

  /** Heap in use after full collections: what the session retains. */
  def heapLiveBytes(): Long = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Peak resident set of this process (VmHWM), 0 where unavailable. */
  def rssPeakBytes(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toLong * 1024).getOrElse(0L)
      finally src.close()
    } catch { case _: Throwable => 0L }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
