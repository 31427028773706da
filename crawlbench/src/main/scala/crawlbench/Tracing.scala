package crawlbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Tracing state of one traced run: the span recorder, the benchmark's
 * SparkListener, and the layer spans each pass attributed Spark jobs to. */
final class Tracing(spark: SparkSession) {
  val tracer = new Tracer
  val jobs = new JobTracer(spark.sparkContext, tracer)
  spark.sparkContext.addSparkListener(jobs)

  // pass root span → the layer spans inside it that Spark jobs were attributed to
  private val layerSpans = mutable.LinkedHashMap.empty[Long, mutable.ArrayBuffer[Long]]
  private var run: Long = -1L

  /** A pass under a root span; returns the result, the wall in seconds and
   * the root span id. File system statistics are snapshotted around it. */
  def tracedPass[T](spark: SparkSession, name: String)(f: Long => T): (T, Double, Long) = {
    val fs0 = FsCounters.snapshot()
    val t0 = System.nanoTime()
    val (res, id) = tracer.span(s"pass $name") { id =>
      run = id
      layerSpans(id) = mutable.ArrayBuffer.empty
      (f(id), id)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    jobs.settle()
    fsDelta(id) = FsCounters.snapshot().minus(fs0)
    run = -1L
    (res, wall, id)
  }

  val fsDelta = mutable.Map.empty[Long, FsCounters]

  /** Runs `f` inside a layer span, attributing the Spark jobs it submits
   * (from this thread and threads it creates) to that span. */
  def layer[T](name: String)(f: => T): T = tracer.span(name) { id =>
    layerSpans.get(run).foreach(_ += id)
    JobTracer.attributed(spark.sparkContext, id)(f)
  }

  def passJobs(pass: Long): Seq[JobRec] =
    layerSpans.getOrElse(pass, Nil).flatMap(jobs.jobsOf).toVector
  def passStages(pass: Long): Seq[StageRec] =
    layerSpans.getOrElse(pass, Nil).flatMap(jobs.stagesOf).toVector

  /** Hangs every traced job under the layer span that submitted it, stops
   * listening, and returns all spans. */
  def finish(): Seq[Span] = {
    layerSpans.values.flatten.foreach(jobs.emitSpans)
    spark.sparkContext.removeSparkListener(jobs)
    tracer.spans
  }
}

/** The stock local file system, counting file opens (reads), creates,
 * renames, deletes and mkdirs (writes) and directory listings. Installed
 * as `fs.file.impl` in traced runs only. */
final class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, permission)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }
}
object CountingLocalFs {
  val reads = new AtomicLong()
  val writes = new AtomicLong()
  val lists = new AtomicLong()
}

/** File operation counts of `CountingLocalFs` plus the bytes Hadoop's
 * `file` scheme statistics saw written. */
final case class FsCounters(readOps: Long, writeOps: Long, listOps: Long,
    bytesWritten: Long) {
  def minus(o: FsCounters): FsCounters = FsCounters(readOps - o.readOps,
    writeOps - o.writeOps, listOps - o.listOps, bytesWritten - o.bytesWritten)
}
object FsCounters {
  def snapshot(): FsCounters = {
    @annotation.nowarn("cat=deprecation")
    val all = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    FsCounters(CountingLocalFs.reads.get, CountingLocalFs.writes.get, CountingLocalFs.lists.get,
      all.map(_.getBytesWritten).sum)
  }
}

/** Process-level readings of a pass: the largest heap occupancy right after
 * a garbage collection, and the CPU time the process used, since `reset`. */
final class ProcessProbe {
  private val peakBytes = new AtomicLong()
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var cpu0 = 0L
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
        peakBytes.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }
  def reset(): Unit = { peakBytes.set(0L); cpu0 = os.getProcessCpuTime }
  def cpuS: Double = (os.getProcessCpuTime - cpu0) / 1e9
  /** Peak after-GC occupancy; the current occupancy if no GC ran. */
  def peak: Long = {
    val p = peakBytes.get()
    if (p > 0) p else {
      val rt = Runtime.getRuntime
      rt.totalMemory() - rt.freeMemory()
    }
  }
}
