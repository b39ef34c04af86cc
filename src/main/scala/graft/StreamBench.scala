package graft

import java.io.OutputStream
import java.net.ServerSocket

import graft.config.DeviceConfig
import graft.streaming.IngestPipeline
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming throughput of record — the measured counterpart of
  * BASELINE.md's station envelope (README.md:68: ~60 msg/s aggregate
  * from 3×20 Hz sonic anemometers + a slow probe on an ARMv7 board).
  *
  * The run drives the STATION SHAPE, not a synthetic harness: four
  * loopback TCP servers blast newline-framed sonic/probe messages
  * unthrottled through the full durable pipeline — graft-socket source
  * (WAL on), regex parse (P1-P4), count-window pack (G1-G2), partitioned
  * Parquet sink (K1) — as four concurrent streaming queries, exactly
  * the [[IngestPipeline.start]] production path. The measurement ends
  * when EVERY expected pack is committed with exactly `pack_length`
  * rows (zero dropped packs — stricter than the reference, whose
  * keep-up failure mode is process exit, readport.py:457-464); the
  * reported rate is messages / (first-byte-accepted → last-pack-
  * committed), i.e. it charges the engine for its own durability (WAL
  * writes) and commit latency, not just parse throughput.
  *
  * Usage: `scripts/run.sh graft.StreamBench [msgsPerSonic]` (default
  * 240000 → 20 packs of 12000 per sonic, the reference's 10-minute
  * window shape; the probe sends 3600 across 4 levels → 50 packs of 18
  * per level). Prints ONE JSON line (the BENCH pattern).
  */
object StreamBench {

  /** One blast server: accepts, writes the payload unthrottled in 64 KB
    * chunks, then HOLDS the socket open (a silent healthy device) so
    * the source doesn't reconnect-spin; records the accept instant.
    */
  private final class Blast(payload: Array[Byte]) {
    private val server = new ServerSocket(0)
    val port: Int = server.getLocalPort
    @volatile var acceptedAtNanos: Long = -1L
    @volatile private var running = true
    private val thread = new Thread(() => {
      try {
        val sock = server.accept()
        acceptedAtNanos = System.nanoTime()
        val out: OutputStream = sock.getOutputStream
        var off = 0
        while (off < payload.length) {
          val n = math.min(64 * 1024, payload.length - off)
          out.write(payload, off, n)
          off += n
        }
        out.flush()
        while (running) Thread.sleep(100)
        sock.close()
      } catch { case _: Exception => }
    })
    thread.setDaemon(true)
    thread.start()
    def close(): Unit = { running = false; try server.close() catch { case _: Exception => } }
  }

  private def sonicPayload(n: Int): Array[Byte] = {
    val sb = new StringBuilder(n * 40)
    var i = 0
    while (i < n) {
      // deterministic plausible sonic sample: 3 wind components + temp
      sb.append("u= ").append((i % 700 - 350) / 100.0)
        .append(" v= ").append((i % 500 - 250) / 100.0)
        .append(" w= ").append((i % 90 - 45) / 100.0)
        .append(" t= ").append(15.0 + (i % 120) / 10.0)
        .append('\n')
      i += 1
    }
    sb.toString.getBytes("US-ASCII")
  }

  private def probePayload(n: Int): Array[Byte] = {
    val sb = new StringBuilder(n * 36)
    var i = 0
    while (i < n) {
      sb.append("0").append(1 + i % 4)
        .append(" RH= ").append(30.0 + (i % 400) / 10.0)
        .append(" %RH T= ").append(10.0 + (i % 150) / 10.0)
        .append(" 'C \n")
      i += 1
    }
    sb.toString.getBytes("US-ASCII")
  }

  private def cfgFor(name: String, port: Int, sonic: Boolean,
      packLength: Int): DeviceConfig = {
    val parser =
      if (sonic)
        s"""regex = ^u= *(?P<u>\\S+) v= *(?P<v>\\S+) w= *(?P<w>\\S+) t= *(?P<temp>\\S+)\\s*$$
           |pack_length = $packLength""".stripMargin
      else
        s"""regex = ^(?P<level>\\S+) RH= *(?P<rh>\\S+) %RH T= *(?P<temp>\\S+) .C\\s*$$
           |group_by = level:int
           |pack_length = $packLength""".stripMargin
    DeviceConfig.load(s"""
      |[device]
      |station = BNCH
      |name = $name
      |host = localhost
      |port = $port
      |timeout = 120
      |[parser]
      |$parser
      |destination = ./ignored
      |""".stripMargin)
  }

  def main(args: Array[String]): Unit = {
    val msgsPerSonic = args.headOption.map(_.toInt).getOrElse(240000)
    val sonicPack = 12000
    require(msgsPerSonic % sonicPack == 0,
      s"msgsPerSonic must be a multiple of $sonicPack (whole packs)")
    val probeLevels = 4
    val probePack = 18
    val probePacksPerLevel = 50
    val probeMsgs = probeLevels * probePack * probePacksPerLevel

    val spark = LocalSession("graft-stream-bench", 32)

    val devices = Seq("S1", "S2", "S3").map { n =>
      (n, new Blast(sonicPayload(msgsPerSonic)), true, sonicPack,
        msgsPerSonic.toLong)
    } :+ (("PR", new Blast(probePayload(probeMsgs)), false, probePack,
      probeMsgs.toLong))
    val rootDir = java.nio.file.Files
      .createTempDirectory("graft-stream-bench").toFile
    val root = rootDir.toString
    val queries = scala.collection.mutable.Buffer.empty[StreamingQuery]
    def stopQueries(): Unit =
      queries.foreach(q => try q.stop() catch { case _: Exception => })

    // the JSON line and the exit status; the finally below runs before
    // any exit, so every path stops the queries and closes the servers
    // (nothing writes under the root any more) and then deletes the
    // sink/checkpoint root
    val (line, ok) =
      try {
        devices.foreach { case (n, srv, sonic, pack, _) =>
          val cfg = cfgFor(n, srv.port, sonic, pack)
          queries += IngestPipeline.start(spark, cfg, s"$root/$n/data",
            s"$root/$n/ckpt", Trigger.ProcessingTime("500 milliseconds"))
        }

        val totalMsgs = devices.map(_._5).sum

        def committedRows(n: String): Long =
          try spark.read.parquet(s"$root/$n/data").count()
          catch { case _: Exception => 0L }

        val deadline = System.nanoTime() + 30L * 60 * 1000 * 1000 * 1000
        var done = false
        while (!done && System.nanoTime() < deadline) {
          Thread.sleep(500)
          // whole packs by construction: every message must commit
          done = devices.forall { case (n, _, _, _, m) => committedRows(n) == m }
        }
        val t1 = System.nanoTime()
        stopQueries()

        // timeout/never-connected guard: a hung run must still EMIT its
        // failure JSON line (the bench's contract is one parseable line
        // per run) — computing min over zero accepted connections, or a
        // rate from a clock that never started, would crash before
        // reporting
        val accepted = devices.map(_._2.acceptedAtNanos).filter(_ > 0)
        if (!done || accepted.isEmpty) {
          val committed = devices.map { case (n, _, _, _, m) =>
            s""""$n":{"committed":${committedRows(n)},"expected":$m}""" }.mkString(",")
          (s"""{"metric":"stream_bench","messages":$totalMsgs,""" +
            s""""elapsed_s":-1.0,"msg_per_s":-1.0,"x_reference_60msgs":-1.0,""" +
            s""""zero_dropped_packs":false,"timed_out":${!done},""" +
            s""""never_connected":${accepted.isEmpty},"devices":{$committed}}""",
            false)
        } else {
          val t0 = accepted.min

          // zero-dropped-packs audit: every pack present, every pack
          // full — pack_seq is per KEY (the probe's levels each count
          // 0..n), so the audit groups on the partition pair
          val packReport = devices.map { case (n, _, sonic, pack, m) =>
            val keyCol = if (sonic) "_device" else "level"
            val df = spark.read.parquet(s"$root/$n/data")
            val perPack = df.groupBy(keyCol, "pack_seq").count().collect()
              .map(_.getLong(2)).toSeq
            val nPacks = perPack.size.toLong
            val full = perPack.forall(_ == pack.toLong)
            (n, nPacks, full && nPacks * pack == m)
          }
          val allOk = packReport.forall(_._3)

          val elapsed = (t1 - t0) / 1e9
          val rate = totalMsgs / elapsed
          def num(v: Double) = String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
          val packs = packReport.map { case (n, c, ok) =>
            s""""$n":{"packs":$c,"complete":$ok}""" }.mkString(",")
          (s"""{"metric":"stream_bench","messages":$totalMsgs,""" +
            s""""elapsed_s":${num(elapsed)},"msg_per_s":${num(rate)},""" +
            s""""x_reference_60msgs":${num(rate / 60.0)},""" +
            s""""zero_dropped_packs":$allOk,"devices":{$packs}}""",
            allOk)
        }
      } finally {
        stopQueries()
        devices.foreach(_._2.close())
        try spark.stop() catch { case _: Exception => }
        org.apache.commons.io.FileUtils.deleteQuietly(rootDir)
      }
    println(line)
    System.out.flush()
    if (!ok) sys.exit(1)
  }
}
