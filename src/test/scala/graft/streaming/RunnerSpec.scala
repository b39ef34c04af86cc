package graft.streaming

import graft.SparkTestBase
import graft.config.DeviceConfig
import graft.sources.TcpFixtureServer
import org.apache.spark.sql.streaming.Trigger

/** X4 — one station, several devices, one session: every config becomes
  * an independent supervised StreamingQuery (the reference runs one
  * process per device via screen + cron, README.md:51-68).
  */
class RunnerSpec extends SparkTestBase {

  private def cfgFor(port: Int, device: String) = DeviceConfig.load(s"""
    |[device]
    |station = MSU
    |name = $device
    |host = localhost
    |port = $port
    |[parser]
    |regex = ^(?P<level>\\S+) RH= *(?P<rh>\\S+) %RH T= *(?P<temp>\\S+) .C\\s*$$
    |group_by = level:int
    |pack_length = 2
    |destination = ./ignored
    |""".stripMargin)

  test("heartbeat carries the parse-drop counters (F1 → K4)") {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = Runner.attachHeartbeat(spark)(events.add(_))
    val srv = new TcpFixtureServer
    srv.enqueue(
      "01 RH= 1.0 %RH T= 10.0 'C \r\n".getBytes,
      "not a sensor line\n".getBytes,
      "02 RH= 2.0 %RH T= 20.0 'C \r\n".getBytes)
    withTempDir("graft-hbm-") { tmp =>
      val dest = mkdir(tmp, "dest")
      val ckpt = mkdir(tmp, "ckpt")
      val q = IngestPipeline.start(spark, cfgFor(srv.port, "H"), dest, ckpt,
        trigger = Trigger.ProcessingTime("500 milliseconds"))
      try {
        val deadline = System.currentTimeMillis() + 60000
        def dropSeen() = events.toArray.map(_.toString)
          .exists(s => s.contains("\"dropped\"") && s.contains("\"regex_drop\":1"))
        while (!dropSeen() && System.currentTimeMillis() < deadline) {
          q.processAllAvailable(); Thread.sleep(200)
        }
        assert(dropSeen(), "no progress event carried the regex_drop counter")
        // K4 host-health parity (hb_client.sh:3-17): every progress event
        // carries the /proc-derived host fields beside the query metrics
        val progress = events.toArray.map(_.toString)
          .filter(_.contains("\"event\":\"progress\""))
        assert(progress.nonEmpty && progress.forall(s =>
          s.contains("\"host\":{") && s.contains("\"disk_used_pct\":") &&
            s.contains("\"ram_used_pct\":") && s.contains("\"load1\":")),
          "progress events missing host-health fields")
      } finally {
        q.stop(); srv.close(); spark.streams.removeListener(listener)
      }
    }
  }

  test("hostMetrics reads real /proc values on Linux") {
    val m = Runner.hostMetrics()
    // this CI box is Linux: disk/RAM/load/net must be numeric (bounded
    // where bounded); cpu temp is machine-dependent (null in VMs)
    val re = ("""\{"disk_used_pct":([0-9.]+),"ram_used_pct":([0-9.]+),""" +
      """"load1":([0-9.]+),"cpu_temp_c":(null|[0-9.-]+),""" +
      """"net_rx_bytes":([0-9]+),"net_tx_bytes":([0-9]+)\}""").r
    m match {
      case re(disk, ram, _, _, rx, tx) =>
        assert(disk.toDouble >= 0 && disk.toDouble <= 100)
        assert(ram.toDouble >= 0 && ram.toDouble <= 100)
        assert(rx.toLong >= 0 && tx.toLong >= 0)
      case _ => fail(s"unexpected hostMetrics payload: $m")
    }
  }

  test("runStation supervises one query per device config") {
    val srvA = new TcpFixtureServer
    val srvB = new TcpFixtureServer
    srvA.enqueue((1 to 4).map(i => s"01 RH= $i.0 %RH T= 10.0 'C \r\n".getBytes): _*)
    srvB.enqueue((1 to 4).map(i => s"02 RH= $i.0 %RH T= 20.0 'C \r\n".getBytes): _*)
    withTempDir("graft-station-") { tmp =>
      val destRoot = mkdir(tmp, "dest")
      val ckptRoot = mkdir(tmp, "ckpt")
      val queries = Runner.runStation(spark,
        Seq(cfgFor(srvA.port, "A"), cfgFor(srvB.port, "B")),
        destRoot, ckptRoot, Trigger.ProcessingTime("500 milliseconds"))
      try {
        assert(queries.length == 2)
        val deadline = System.currentTimeMillis() + 60000
        // read each sink at ITS root so its _spark_metadata commit log is
        // honored (reading across roots would see in-flight files)
        def countOf(dev: String) =
          try spark.read.parquet(s"$destRoot/station=MSU/device=$dev").count()
          catch { case _: Exception => 0L }
        while (countOf("A") + countOf("B") < 8 &&
          System.currentTimeMillis() < deadline) Thread.sleep(500)
        // 4 msgs per device, pack_length 2 → 2 full packs each → 4 rows each
        assert(countOf("A") == 4)
        assert(countOf("B") == 4)
      } finally { queries.foreach(_.stop()); srvA.close(); srvB.close() }
    }
  }
}
