package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** JSON output of the harness's result and trace files. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def write(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)
}

/** One traced interval at a layer boundary. `key` groups the spans of
  * one query or one micro-batch; `parent` is the id of the enclosing span
  * (0 for a root).
  */
final case class Span(id: Int, parent: Int, name: String, key: String,
    startMs: Double, endMs: Double)

/** In-memory span recorder; written out once, when the run ends. With
  * tracing off it records nothing and `apply` only runs the body.
  */
final class Trace(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  def apply[T](name: String, key: String = "")(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = Clock.ms()
      try body
      finally {
        stack.set(stack.get.tail)
        spans.add(Span(id, parent, name, key, t0, Clock.ms()))
      }
    }

  /** Record an interval measured elsewhere (micro-batch phases). */
  def add(name: String, key: String, startMs: Double, endMs: Double,
      parent: Int = 0): Int =
    if (!on) 0
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, name, key, startMs, endMs))
      id
    }

  def write(path: String): Unit = if (on) {
    Json.write(path, spans.asScala.toSeq.sortBy(_.id).map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "key" -> s.key,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
  }
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * spans and batch instants compare with the generator's clock.
  */
object Clock {
  private val baseWall = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  def ms(): Double = baseWall + (System.nanoTime() - baseNano) / 1e6
}

/** Resource use of this (the engine's) process. */
object Proc {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  /** The machine's CPU time counters (`/proc/stat`, all CPUs). */
  def cpuTicks(): Array[Long] =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)

  /** Share of the machine's CPU time stolen by the hypervisor since
    * `from`, in percent: context for a slow run, not a correction.
    */
  def stealPct(from: Array[Long]): Double = {
    val d = cpuTicks().zip(from).map { case (b, a) => b - a }
    if (d.sum == 0) 0.0 else 100.0 * d(7) / d.sum
  }

  /** Heap occupancy right after a full collection, in MB: the memory
    * the process retains, without garbage the collector has not yet
    * reclaimed.
    */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }

  /** Peak resident set size (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
}

object Session {
  /** The engine session every workload runs in: four local cores, the
    * benchmark's own scratch directories, no UI.
    */
  def create(app: String, scratch: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Job and stage events, kept for attribution at the end of the run. */
final class JobLog extends SparkListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long)
  final case class Stage(submitMs: Long, tasks: Int,
      runMs: Long, deserializeMs: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, peakExecMem: Long)

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageQ = new ConcurrentLinkedQueue[Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, Job(e.jobId, e.time, Long.MaxValue))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null)
      stageQ.add(Stage(i.submissionTime.getOrElse(0L), i.numTasks,
        m.executorRunTime, m.executorDeserializeTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory))
  }

  def allJobs: Seq[Job] = jobs.values().asScala.toSeq.sortBy(_.id)
  def stages: Seq[Stage] = stageQ.asScala.toSeq
}
