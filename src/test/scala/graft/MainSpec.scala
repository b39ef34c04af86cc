package graft

import java.nio.file.Files

import graft.sources.TcpFixtureServer
import graft.streaming.Runner

/** CLI parity (reference read_cmdline + main, readport.py:497-533,
  * 739-778): argument grammar, endpoint validation, echo semantics, and
  * an end-to-end launch from a real `.conf` file path.
  */
class MainSpec extends SparkTestBase {

  test("argument grammar: --config xor --echo required, --debug flag") {
    assert(Main.parseArgs(Seq("--config", "x.conf")) ==
      Right(Main.CliArgs(config = Some("x.conf"))))
    assert(Main.parseArgs(Seq("-c", "x.conf", "--debug")) ==
      Right(Main.CliArgs(config = Some("x.conf"), debug = true)))
    assert(Main.parseArgs(Seq("--echo", "10.0.0.1:4001")) ==
      Right(Main.CliArgs(echo = Some(("10.0.0.1", 4001)))))
    assert(Main.parseArgs(Seq.empty).isLeft)                       // neither
    assert(Main.parseArgs(
      Seq("--config", "x.conf", "--echo", "10.0.0.1:1")).isLeft)   // both
    assert(Main.parseArgs(Seq("--config")).isLeft)                 // missing value
    assert(Main.parseArgs(Seq("--frobnicate")).isLeft)             // unknown
  }

  test("endpoint validation: literal IP + port 1-65535 (readport.py:745-755)") {
    assert(Main.parseEndpoint("192.168.192.48:4001") == Right(("192.168.192.48", 4001)))
    assert(Main.parseEndpoint("localhost:4001").isLeft)   // hostname rejected
    assert(Main.parseEndpoint("300.1.1.1:4001").isLeft)   // octet out of range
    assert(Main.parseEndpoint("10.0.0.1:0").isLeft)       // bad port
    assert(Main.parseEndpoint("10.0.0.1:99999").isLeft)
    assert(Main.parseEndpoint("10.0.0.1").isLeft)         // no port
  }

  test("echo: raw passthrough, one connection, returns on EOF — no reconnect") {
    val srv = new TcpFixtureServer
    srv.enqueue("raw ÿ bytes\npartial".getBytes("ISO-8859-1"))
    // a second script that must NEVER be consumed: echo does not reconnect
    srv.enqueue("should not appear\n".getBytes)
    val out = new java.io.ByteArrayOutputStream()
    val n = Runner.echo("127.0.0.1", srv.port, out)  // blocks until peer closes
    assert(n > 0)
    // byte-exact, including the unterminated tail the framing source
    // would have held back
    assert(new String(out.toByteArray, "ISO-8859-1") == "raw ÿ bytes\npartial")
    srv.close()
  }

  test("end-to-end: launch from a .conf file path (reference shape, P7 sink)") {
    val srv = new TcpFixtureServer
    srv.enqueue((1 to 2).map(i => s"x= $i.0 y= 2.0 z= 3.0 T= 20.0 e1= 0 e2= 0 e3= 0 e4= 0\r\n".getBytes): _*)
    val dest = suiteTempDir("graft-main-")
    // the reference config verbatim except host/port/destination/pack_length
    val conf = s"""
      |[device]
      |station = MSU
      |name = A3
      |host = 127.0.0.1
      |port = ${srv.port}
      |timeout = 120
      |[parser]
      |regex = ^x= *(?P<u>\\S+) y= *(?P<v>\\S+) z= *(?P<w>\\S+) T= *(?P<temp>\\S+) e1= *(?P<e1>\\S+) e2= *(?P<e2>\\S+) e3= *(?P<e3>\\S+) e4= *(?P<e4>\\S+).*$$
      |pack_length = 2
      |destination = $dest
      |[logging]
      |level = INFO
      |file = $dest/readport_$${device:port}.log
      |""".stripMargin
    val path = java.nio.file.Paths.get(suiteTempDir("graft-main-conf"), "readport.conf")
    Files.write(path, conf.getBytes)
    val q = Main.startFromConfig(spark, path.toString, debug = false)
    try {
      val deadline = System.currentTimeMillis() + 60000
      def files() = new java.io.File(dest).listFiles()
        .filter(_.getName.matches("""MSU_A3_.*\.parquet"""))
      // wait until the pack file is fully committed (readable), not just created
      def packRows() =
        try files().headOption.fold(-1L)(f => spark.read.parquet(f.getPath).count())
        catch { case _: Exception => -1L }
      while (packRows() < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(500)
      assert(files().length == 1)
      assert(packRows() == 2)
      // K5: the [logging] file (interpolated) received the rotating log
      assert(new java.io.File(s"$dest/readport_${srv.port}.log").exists())
    } finally {
      q.stop(); srv.close()
      // hand the test JVM back its default logging: the rotating file
      // appender would keep writing under `dest` and re-create it after
      // the suite deletes it
      org.apache.logging.log4j.LogManager.getContext(false)
        .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
        .setConfiguration(new org.apache.logging.log4j.core.config.DefaultConfiguration())
    }
  }

  test("Python logging level names map onto log4j (reference parity)") {
    assert(Main.toLog4jLevel("WARNING") == "WARN")
    assert(Main.toLog4jLevel("critical") == "FATAL")
    assert(Main.toLog4jLevel("NOTSET") == "INFO")
    assert(Main.toLog4jLevel("debug") == "DEBUG")
    intercept[graft.config.ConfigurationError](Main.toLog4jLevel("LOUD"))
  }

  test("missing config file surfaces as a load failure (exit-1 path)") {
    intercept[java.io.IOException] {
      Main.startFromConfig(spark, "/nonexistent/readport.conf", debug = false)
    }
  }
}
