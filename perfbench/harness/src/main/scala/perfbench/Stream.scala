package perfbench

import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.config.DeviceConfig
import graft.streaming.IngestPipeline
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

/** The station workload: one streaming query per device through
  * `IngestPipeline.start` (TCP source → WAL → regex parse → count-window
  * pack → Parquet sink), fed by the separate generator process.
  *
  * Set-up ends when every query has committed its device's warm-up
  * prefix; the run ends when every device's query has finished a micro-batch
  * whose source end offset covers every line the generator sends it;
  * batch instants come from `StreamingQueryListener` progress, so the
  * harness starts no Spark job while the load runs.
  */
object Stream {

  /** `name:port:kind:packLength:lines:warmupLines`, kind `sonic` or
    * `probe`.
    */
  final case class Device(name: String, port: Int, sonic: Boolean,
      pack: Int, lines: Long, warmup: Long) {
    def keyCol: String = if (sonic) "_device" else "level"
    def valueCols: Seq[String] =
      if (sonic) Seq("u", "v", "w", "temp", "c") else Seq("rh", "temp", "c")
  }

  def config(d: Device): DeviceConfig = {
    val parser =
      if (d.sonic)
        s"""regex = ^u= *(?P<u>\\S+) v= *(?P<v>\\S+) w= *(?P<w>\\S+) t= *(?P<temp>\\S+) c= *(?P<c>\\S+)\\s*$$
           |pack_length = ${d.pack}""".stripMargin
      else
        s"""regex = ^(?P<level>\\S+) RH= *(?P<rh>\\S+) %RH T= *(?P<temp>\\S+) .C c= *(?P<c>\\S+)\\s*$$
           |group_by = level:int
           |pack_length = ${d.pack}""".stripMargin
    DeviceConfig.load(s"""
      |[device]
      |station = BNCH
      |name = ${d.name}
      |host = localhost
      |port = ${d.port}
      |timeout = 120
      |[parser]
      |$parser
      |destination = ./ignored
      |""".stripMargin)
  }

  /** Progress of one finished micro-batch of one device's query. */
  final case class Batch(id: Long, startMs: Long, durations: Map[String, Long],
      startOffset: Long, endOffset: Long, rows: Long,
      stateRows: Long, stateBytes: Long, stateUpdateMs: Long,
      stateCommitMs: Long, observed: Map[String, Long]) {
    def endMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
  }

  private final class Progress extends StreamingQueryListener {
    val batches = new ConcurrentHashMap[java.util.UUID, java.util.concurrent.ConcurrentLinkedQueue[Batch]]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      if (p.numInputRows > 0 && d.contains("addBatch")) {
        val src = p.sources.head
        val st = p.stateOperators.headOption
        val obs = Option(p.observedMetrics.get("graft_parse")).map { r =>
          r.schema.fieldNames.zipWithIndex.map { case (n, i) =>
            n -> (if (r.isNullAt(i)) 0L else r.getLong(i)) }.toMap
        }.getOrElse(Map.empty[String, Long])
        val b = Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli, d,
          offset(src.startOffset), offset(src.endOffset), p.numInputRows,
          st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L),
          st.map(_.allUpdatesTimeMs).getOrElse(0L), st.map(_.commitTimeMs).getOrElse(0L), obs)
        batches.computeIfAbsent(p.id, _ => new java.util.concurrent.ConcurrentLinkedQueue[Batch]()).add(b)
        this.synchronized(this.notifyAll())
      }
    }
    private def offset(s: String): Long =
      Option(s).map(_.trim).filter(_.nonEmpty).flatMap(_.toLongOption).getOrElse(0L)
    def of(id: java.util.UUID): Seq[Batch] =
      Option(batches.get(id)).map(_.asScala.toSeq.sortBy(_.id)).getOrElse(Nil)
  }

  private def hasData(dir: String): Boolean = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.exists(_.getFileName.toString.endsWith(".parquet"))
    finally s.close()
  }

  def run(o: Map[String, String]): Unit = {
    val trace = new Trace(o("trace") == "1")
    val scratch = o("scratch")
    val devices = o("devices").split(',').toSeq.map { s =>
      val Array(n, p, k, pack, lines, warmup) = s.split(':')
      Device(n, p.toInt, k == "sonic", pack.toInt, lines.toLong, warmup.toLong)
    }
    val deadline = Clock.ms() + o("timeout_s").toDouble * 1000
    val spark = trace("setup.session")(Session.create("perfbench-stream", scratch))
    val log = new JobLog
    if (trace.on) spark.sparkContext.addSparkListener(log)
    val progress = new Progress
    spark.streams.addListener(progress)

    val queries: Seq[(Device, StreamingQuery)] = trace("setup.start") {
      devices.map { d =>
        d -> IngestPipeline.start(spark, config(d), s"$scratch/sink/${d.name}",
          s"$scratch/ckpt/${d.name}", Trigger.ProcessingTime(s"${o("trigger_ms")} milliseconds"))
      }
    }
    // ready for load: every query has committed its device's warm-up
    // prefix, so the pipeline's one-time initialization is behind it
    trace("setup.warmup") {
      while (!queries.forall { case (d, q) => progress.of(q.id).exists(_.endOffset >= d.warmup) } &&
          Clock.ms() < deadline && queries.forall(_._2.isActive))
        progress.synchronized(progress.wait(50))
    }
    val readyMs = Clock.ms()
    java.nio.file.Files.createFile(java.nio.file.Paths.get(o("ready")))
    val cpu0 = Proc.cpuSeconds()

    def covered(d: Device, q: StreamingQuery): Boolean =
      progress.of(q.id).exists(_.endOffset >= d.lines)
    val steal0 = Proc.cpuTicks()
    var done = false
    trace("load") {
      while (!done && Clock.ms() < deadline && queries.forall(_._2.isActive)) {
        progress.synchronized(progress.wait(200))
        done = queries.forall { case (d, q) => covered(d, q) }
      }
    }
    val cpuS = Proc.cpuSeconds() - cpu0
    val stealPct = Proc.stealPct(steal0)
    val liveHeap = Proc.liveHeapMb()
    val failure = queries.flatMap(_._2.exception).headOption.map(_.toString)
    queries.foreach { case (_, q) => try q.stop() catch { case _: Exception => () } }

    // untimed output check: every committed pack, as the sink log lists it
    val packs = if (!done) Nil else devices.flatMap { d =>
      val sink = s"$scratch/sink/${d.name}"
      // a device that completed no pack has no data file to read
      val rows = if (!hasData(sink)) Array.empty[org.apache.spark.sql.Row]
        else spark.read.parquet(sink).select((Seq(d.keyCol, "pack_seq", "pack_pos") ++ d.valueCols)
          .map(col) :+ input_file_name().as("_file"): _*).collect()
      rows.groupBy(r => (String.valueOf(r.get(0)), r.getAs[Number](1).longValue)).toSeq.map {
        case ((key, seq), rs) =>
          val sorted = rs.sortBy(_.getInt(2))
          val lines = sorted.map { r =>
            d.valueCols.indices.map { i =>
              val v = r.getDouble(3 + i)
              if (d.valueCols(i) == "c") math.round(v) else math.round(v * 1000)
            }.mkString(",")
          }
          val md = MessageDigest.getInstance("SHA-1")
          md.update(lines.mkString("\n").getBytes("UTF-8"))
          val files = rs.map(_.getString(3 + d.valueCols.length)).distinct
          Map("device" -> d.name, "key" -> key, "seq" -> seq, "rows" -> rs.length,
            "positions_ok" -> (sorted.map(_.getInt(2)).toSeq == (0 until d.pack)),
            "digest" -> md.digest().map(b => f"$b%02x").mkString,
            "files" -> files.toSeq,
            "mtime_ms" -> files.map(f => new java.io.File(new java.net.URI(f)).lastModified).max)
      }
    }

    val perDevice = queries.map { case (d, q) =>
      val bs = progress.of(q.id)
      bs.foreach { b =>
        val root = trace.add("streaming.batch", s"${d.name}/${b.id}", b.startMs, b.endMs)
        // phase order inside MicroBatchExecution.runBatch
        var t = b.startMs.toDouble
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
            "commitOffsets").foreach { ph =>
          val ms = b.durations.getOrElse(ph, 0L)
          trace.add(s"streaming.batch.$ph", s"${d.name}/${b.id}", t, t + ms, root)
          t += ms
        }
      }
      d.name -> bs.map(b => Map("device" -> d.name, "id" -> b.id, "start_ms" -> b.startMs, "end_ms" -> b.endMs,
        "durations" -> b.durations, "start_offset" -> b.startOffset,
        "end_offset" -> b.endOffset, "rows" -> b.rows, "state_rows" -> b.stateRows,
        "state_bytes" -> b.stateBytes, "state_update_ms" -> b.stateUpdateMs,
        "state_commit_ms" -> b.stateCommitMs, "observed" -> b.observed))
    }.toMap

    if (trace.on) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val stages = log.stages.filter(_.submitMs >= readyMs)
    val map = stages.filter(_.shuffleWrite > 0)
    trace.write(o("trace_out"))
    Json.write(o("out"), Map(
      "ready_ms" -> readyMs, "done" -> done, "failure" -> failure,
      "cpu_s" -> cpuS, "steal_pct" -> stealPct,
      "peak_rss_mb" -> Proc.peakRssMb(), "live_heap_mb" -> liveHeap,
      "batches" -> perDevice, "packs" -> packs,
      "stages" -> Map(
        "deserialize_ms" -> stages.map(_.deserializeMs).sum,
        "parse_stage_ms" -> map.map(_.runMs).sum,
        "shuffle_write_bytes" -> map.map(_.shuffleWrite).sum)))
    spark.stop()
  }
}
