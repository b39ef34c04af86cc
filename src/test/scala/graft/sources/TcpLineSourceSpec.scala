package graft.sources

import java.io.OutputStream
import java.net.ServerSocket
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Loopback TCP fixture — the Spark twin of the reference's test server
  * with its instruction DSL (tests/test_socket.py:22-112): scripted
  * writes, fragmentation, coalescing, disconnects.
  */
object TcpFixtureServer {
  /** Script steps — the Spark twin of the reference DSL's `<timeout N>`
    * (a silent pause) and `<disconnect>` (end of one script = close).
    */
  sealed trait Step
  final case class Send(bytes: Array[Byte]) extends Step
  final case class Pause(ms: Long) extends Step
}

/** @param bindPort 0 = ephemeral; pass a previous server's port to
  *   simulate the same device coming back (restart tests) — REUSEADDR
  *   so the rebind doesn't hit TIME_WAIT.
  */
class TcpFixtureServer(bindPort: Int = 0) {
  import TcpFixtureServer._
  private val server = new ServerSocket()
  server.setReuseAddress(true)
  server.bind(new java.net.InetSocketAddress(bindPort))
  val port: Int = server.getLocalPort
  // each script entry: steps for one connection, then close
  private val scripts = new LinkedBlockingQueue[Seq[Step]]()
  @volatile private var running = true

  private val thread = new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        // handle each connection on its own thread so a Pause in one
        // script can't starve a reconnecting client of the next script
        val handler = new Thread(() => {
          try {
            val script = scripts.poll(10, TimeUnit.SECONDS)
            val out: OutputStream = sock.getOutputStream
            if (script != null) script.foreach {
              case Send(chunk) => out.write(chunk); out.flush(); Thread.sleep(30)
              case Pause(ms)   => Thread.sleep(ms)
            }
            sock.close()
          } catch { case _: Exception => }
        })
        handler.setDaemon(true)
        handler.start()
      } catch { case _: Exception => }
    }
  })
  thread.setDaemon(true)
  thread.start()

  def enqueue(chunks: Array[Byte]*): Unit =
    scripts.put(chunks.toSeq.map(Send))
  def enqueueScript(steps: Step*): Unit = scripts.put(steps.toSeq)
  def close(): Unit = { running = false; server.close() }
}

class TcpLineSourceSpec extends SparkTestBase {
  import spark.implicits._

  private def javaBytes(o: AnyRef): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    try out.writeObject(o) finally out.close()
    bytes.toByteArray
  }

  private def javaRoundTrip[A <: AnyRef](o: A): A = {
    val in = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(javaBytes(o)))
    try in.readObject().asInstanceOf[A] finally in.close()
  }

  /** A planned partition's rows, read the way a batch task reads them:
    * the stream's reader factory and the partition, each shipped
    * through Java serialization.
    */
  private def rowsOf(s: TcpLineMicroBatchStream,
      p: org.apache.spark.sql.connector.read.InputPartition)
      : Array[(String, Long, Boolean)] = {
    val r = javaRoundTrip(s.createReaderFactory()).createReader(javaRoundTrip(p))
    try {
      val out = Array.newBuilder[(String, Long, Boolean)]
      while (r.next()) {
        val row = r.get()
        out += ((row.getUTF8String(0).toString, row.getLong(1), row.getBoolean(2)))
      }
      out.result()
    } finally r.close()
  }

  /** Write `rows` as the WAL segment `<start>-<start+rows.length>` with
    * an encoder independent of the source's (ts:i64, fresh:bool,
    * len:i32, ISO-8859-1 bytes).
    */
  private def writeWalSegment(walPath: java.nio.file.Path, start: Int,
      rows: Seq[(String, Long, Boolean)]): Unit = {
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(
        walPath.resolve(s"$start-${start + rows.length}"))))
    try rows.foreach { case (m, ts, fresh) =>
      val bytes = m.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      out.writeLong(ts); out.writeBoolean(fresh)
      out.writeInt(bytes.length); out.write(bytes)
    } finally out.close()
  }

  test("framing: fragmented and coalesced writes yield whole messages (fixture A6)") {
    val srv = new TcpFixtureServer
    // fragmentation: "mess" + "age 2\n"; coalescing: two messages in one write
    srv.enqueue(
      "message 1\n".getBytes,
      "mess".getBytes, "age 2\n".getBytes,
      "message 5\nmessage 6\n".getBytes)
    val df = spark.readStream.format("graft-socket")
      .option("host", "localhost").option("port", srv.port).load()
    val q = df.writeStream.format("memory").queryName("frames")
      .outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table("frames").count() < 4 && System.currentTimeMillis() < deadline) {
        q.processAllAvailable(); Thread.sleep(100)
      }
      val rows = spark.table("frames").orderBy("time").collect()
      assert(rows.map(_.getString(0)).toSeq ==
        Seq("message 1", "message 2", "message 5", "message 6"))
      // S4: first message after connect is fresh, rest are not
      assert(rows.head.getBoolean(2))
      assert(!rows(1).getBoolean(2))
      // S5: arrival timestamps are monotone non-decreasing
      val ts = rows.map(_.getTimestamp(1).getTime)
      assert(ts.zip(ts.tail).forall { case (a, b) => a <= b })
    } finally { q.stop(); srv.close() }
  }

  test("reconnect after peer disconnect; first post-reconnect message fresh (S2/S4)") {
    val srv = new TcpFixtureServer
    srv.enqueue("before drop\n".getBytes)      // connection 1, then closed
    srv.enqueue("after reconnect\n".getBytes)  // connection 2
    val df = spark.readStream.format("graft-socket")
      .option("host", "localhost").option("port", srv.port).load()
    val q = df.writeStream.format("memory").queryName("reconn")
      .outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table("reconn").count() < 2 && System.currentTimeMillis() < deadline) {
        q.processAllAvailable(); Thread.sleep(100)
      }
      val rows = spark.table("reconn").orderBy("time").collect()
      assert(rows.map(_.getString(0)).toSeq == Seq("before drop", "after reconnect"))
      assert(rows.forall(_.getBoolean(2)))  // both are first-after-(re)connect
    } finally { q.stop(); srv.close() }
  }

  test("read timeout triggers reconnect (S3, reference <timeout N> case)") {
    import TcpFixtureServer._
    val srv = new TcpFixtureServer
    // connection 1: one message, then silence longer than timeoutSec
    srv.enqueueScript(Send("a\n".getBytes), Pause(5000), Send("lost\n".getBytes))
    // connection 2 (after the source's timeout-driven reconnect)
    srv.enqueueScript(Send("after timeout\n".getBytes))
    val df = spark.readStream.format("graft-socket")
      .option("host", "localhost").option("port", srv.port)
      .option("timeoutSec", "1").load()
    val q = df.writeStream.format("memory").queryName("timeouts")
      .outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      def msgs() = spark.table("timeouts").orderBy("time").collect()
        .map(_.getString(0)).toSeq
      while (!msgs().contains("after timeout") && System.currentTimeMillis() < deadline) {
        q.processAllAvailable(); Thread.sleep(200)
      }
      // "a" arrived; silence > timeout → reconnect; "lost" was written into
      // the dead connection (at-most-once, like the reference's outage
      // gap); "after timeout" arrives on the fresh connection
      assert(msgs().head == "a")
      assert(msgs().contains("after timeout"))
      assert(!msgs().contains("lost"))
    } finally { q.stop(); srv.close() }
  }

  test("restart from checkpoint beyond the in-memory range: empty replay, no crash") {
    withTempDir("graft-walc-") { tmp =>
      // Simulates driver recovery with the WAL gone: Spark re-reads
      // checkpointed offsets from a previous incarnation whose buffer and
      // WAL segments are both lost. The old behavior crash-looped in
      // commit() (IndexOutOfBounds on remove) and then misaligned new
      // rows; the range must plan empty, commit cleanly, and new
      // offsets must resume at the committed mark.
      val s = new TcpLineMicroBatchStream("localhost", 1, None, None,
        s"$tmp/sources/0")
      val start = s.deserializeOffset("400")
      val end = s.deserializeOffset("500")
      val parts = s.planInputPartitions(start, end)
      assert(parts.length == 1 &&
        rowsOf(s, parts(0)).isEmpty)
      s.commit(end)  // must be a no-op, not an exception
      // new messages get offsets at/after the checkpointed mark
      assert(s.latestOffset().asInstanceOf[TcpOffset].n == 500L)
      s.stop()
    }
  }

  test("WAL: planned-but-uncommitted ranges replay after restart — zero loss (X3)") {
    // Incarnation A receives 5 messages, exposes offset 5 (persisting
    // the frames to the WAL first), plans [0, 5), but only batch [0, 2)
    // commits before the "crash". Incarnation B — fresh process, device
    // GONE (no server) — must serve the planned-but-uncommitted range
    // [2, 5) byte-identically from the WAL: the at-least-once upgrade
    // over the round-2 source, which served that range empty.
    withTempDir("graft-wal-") { tmp =>
      val ckpt = s"$tmp/sources/0"
      val srv = new TcpFixtureServer
      srv.enqueue((1 to 5).map(i => s"wal $i\n".getBytes): _*)
      var rowsA: Array[(String, Long, Boolean)] = null
      val a = new TcpLineMicroBatchStream("localhost", srv.port, None, None, ckpt)
      try {
        val deadline = System.currentTimeMillis() + 30000
        var end = 0L
        while (end < 5 && System.currentTimeMillis() < deadline) {
          end = a.latestOffset().asInstanceOf[TcpOffset].n
          Thread.sleep(100)
        }
        assert(end == 5, "incarnation A never exposed all 5 messages")
        rowsA = rowsOf(a, a.planInputPartitions(TcpOffset(0), TcpOffset(5))(0))
        assert(rowsA.map(_._1).toSeq == (1 to 5).map(i => s"wal $i"))
        a.commit(TcpOffset(2))
      } finally { a.stop(); srv.close() }
      val b = new TcpLineMicroBatchStream("localhost", 1, None, None, ckpt)
      try {
        val rowsB = rowsOf(b, b.planInputPartitions(TcpOffset(2), TcpOffset(5))(0))
        // full rows — payload, arrival micros, fresh flag — survive the
        // WAL round-trip identically
        assert(rowsB.toSeq == rowsA.drop(2).toSeq,
          "replayed range differs from what incarnation A planned")
        b.commit(TcpOffset(5))
        // new offsets continue from the WAL high-water mark, and the
        // committed segment is gone: a second restart starts clean
        assert(b.latestOffset().asInstanceOf[TcpOffset].n == 5L)
      } finally b.stop()
      // third incarnation: everything committed, WAL empty — the resume
      // point comes from the query's offset log (written by the engine in
      // a real run; fabricated here), and the source starts clean at 5
      val root = java.nio.file.Paths.get(ckpt).getParent.getParent
      java.nio.file.Files.createDirectories(root.resolve("offsets"))
      java.nio.file.Files.writeString(root.resolve("offsets/0"), "v1\n{}\n5\n")
      val c = new TcpLineMicroBatchStream("localhost", 1, None, None, ckpt)
      try {
        assert(c.latestOffset().asInstanceOf[TcpOffset].n == 5L)
        assert(rowsOf(c, c.planInputPartitions(TcpOffset(5), TcpOffset(5))(0)).isEmpty)
      } finally c.stop()
    }
  }

  test("WAL via the engine: a batch that fails before commit replays with its data") {
    // The crash window the WAL exists for, driven through the REAL
    // micro-batch engine: batch 0 is planned (offsets logged), the sink
    // throws before it commits, the query dies. The restarted query
    // replays batch 0 from the checkpoint — and must get the DATA, not
    // an empty range, even though the first incarnation's buffer died
    // with it (the device sends nothing on the second connection).
    val srv = new TcpFixtureServer
    srv.enqueue("crash a\ncrash b\ncrash c\n".getBytes)
    srv.enqueue(Array.emptyByteArray)  // second connection: nothing
    withTempDir("graft-walq-") { ckpt =>
      def stream() = spark.readStream.format("graft-socket")
        .option("host", "localhost").option("port", srv.port).load()
      val q1 = stream().writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          if (df.count() > 0) throw new IllegalStateException("sink crash")
        }.start()
      try q1.awaitTermination(60000) catch { case _: Exception => () }
      assert(q1.exception.isDefined, "first incarnation should have died mid-batch")
      val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val q2 = stream().writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => got.add(r.getString(0)))
        }.start()
      try {
        val deadline = System.currentTimeMillis() + 60000
        while (got.size < 3 && System.currentTimeMillis() < deadline) {
          q2.processAllAvailable(); Thread.sleep(200)
        }
        val msgs = got.toArray(Array.empty[String]).toSeq.sorted
        assert(msgs == Seq("crash a", "crash b", "crash c"),
          s"replayed batch lost data: $msgs")
      } finally { q2.stop(); srv.close() }
    }
  }

  test("maxMessagesPerTrigger splits a burst across micro-batches (X2)") {
    val srv = new TcpFixtureServer
    srv.enqueue(((1 to 10).map(i => s"burst $i\n").mkString.getBytes): Array[Byte])
    val df = spark.readStream.format("graft-socket")
      .option("host", "localhost").option("port", srv.port)
      .option("maxMessagesPerTrigger", "3").load()
    val q = df.writeStream.format("memory").queryName("capped")
      .outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table("capped").count() < 10 && System.currentTimeMillis() < deadline) {
        q.processAllAvailable(); Thread.sleep(100)
      }
      assert(spark.table("capped").count() == 10)
      val sizes = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(sizes.forall(_ <= 3), s"batch sizes ${sizes.mkString(",")} exceed cap")
      assert(sizes.length >= 2, "burst should span multiple micro-batches")
    } finally { q.stop(); srv.close() }
  }

  test("heartbeat listener emits started/progress events (K4)") {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = graft.streaming.Runner.attachHeartbeat(spark)(events.add(_))
    val srv = new TcpFixtureServer
    srv.enqueue("hb 1\n".getBytes)
    val q = spark.readStream.format("graft-socket")
      .option("host", "localhost").option("port", srv.port).load()
      .writeStream.format("memory").queryName("hb").outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 20000
      while (spark.table("hb").count() < 1 && System.currentTimeMillis() < deadline) {
        q.processAllAvailable(); Thread.sleep(100)
      }
      q.processAllAvailable()
      val deadline2 = System.currentTimeMillis() + 10000
      while (!events.toArray.exists(_.toString.contains("progress")) &&
          System.currentTimeMillis() < deadline2) Thread.sleep(200)
      val all = events.toArray.map(_.toString)
      assert(all.exists(_.contains("\"event\":\"started\"")))
      assert(all.exists(_.contains("\"event\":\"progress\"")))
    } finally {
      q.stop(); srv.close(); spark.streams.removeListener(listener)
    }
  }

  test("WAL hygiene: never-committing sink keeps a bounded segment count; replay intact") {
    // One segment per trigger with a stalled sink previously grew the
    // WAL without bound (thousands of small files under the
    // checkpoint). With walMaxSegments = 4, the per-trigger hygiene
    // check must compact the backlog while preserving byte-identical
    // replay of the whole uncommitted range after a crash.
    withTempDir("graft-walh-") { tmp =>
      val ckpt = s"$tmp/sources/0"
      val srv = new TcpFixtureServer
      val total = 24
      val a = new TcpLineMicroBatchStream("localhost", srv.port, None, None,
        ckpt, walMaxSegments = 4)
      var rowsA: Array[(String, Long, Boolean)] = null
      try {
        for (i <- 1 to total) {
          srv.enqueue(s"hyg $i\n".getBytes)
          val deadline = System.currentTimeMillis() + 30000
          var end = 0L
          // one trigger (= one persisted segment when data arrived) per
          // message: the shape that maximizes segment churn
          while (end < i && System.currentTimeMillis() < deadline) {
            end = a.latestOffset().asInstanceOf[TcpOffset].n
            if (end < i) Thread.sleep(20)
          }
          assert(end == i, s"message $i never surfaced")
        }
        // count real segments only (not hadoop-local .crc shadows / tmp)
        val walFiles = java.nio.file.Files.list(
            java.nio.file.Paths.get(ckpt, "wal")).toArray
          .map(p => p.asInstanceOf[java.nio.file.Path].getFileName.toString)
          .filter(_.matches("""\d+-\d+"""))
        assert(walFiles.length <= 5,
          s"WAL not compacted: ${walFiles.length} segments for $total triggers")
        rowsA = rowsOf(a, a.planInputPartitions(TcpOffset(0), TcpOffset(total))(0))
        assert(rowsA.map(_._1).toSeq == (1 to total).map(i => s"hyg $i"))
      } finally { a.stop(); srv.close() }
      // crash: nothing committed. A fresh incarnation with the device
      // GONE must replay the full range byte-identically from the
      // compacted WAL.
      val b = new TcpLineMicroBatchStream("localhost", 1, None, None, ckpt)
      try {
        assert(b.latestOffset().asInstanceOf[TcpOffset].n == total.toLong)
        val rowsB = rowsOf(b, b.planInputPartitions(TcpOffset(0), TcpOffset(total))(0))
        assert(rowsB.toSeq == rowsA.toSeq,
          "replay after compaction differs from what incarnation A served")
      } finally b.stop()
    }
  }

  test("WAL replay dedupes overlapping segments (compaction crash window)") {
    // A crash between compaction's rename and its deletes legally
    // leaves the merged segment AND its sources on disk. Replay must
    // serve each offset once.
    withTempDir("graft-walo-") { tmp =>
      val ckpt = s"$tmp/sources/0"
      val walPath = java.nio.file.Paths.get(ckpt, "wal")
      java.nio.file.Files.createDirectories(walPath)
      def writeSeg(start: Int, msgs: Seq[String]): Unit =
        writeWalSegment(walPath, start,
          msgs.zipWithIndex.map { case (m, j) => (m, 1000L * (start + j), false) })
      val all = (0 until 4).map(i => s"ovl $i")
      writeSeg(0, all)            // the compacted segment 0-4
      writeSeg(0, all.take(2))    // its un-deleted sources 0-2, 2-4
      writeSeg(2, all.drop(2))
      val c = new TcpLineMicroBatchStream("localhost", 1, None, None, ckpt)
      try {
        assert(c.latestOffset().asInstanceOf[TcpOffset].n == 4L)
        val rows = rowsOf(c, c.planInputPartitions(TcpOffset(0), TcpOffset(4))(0))
        assert(rows.map(_._1).toSeq == all, "overlap must not duplicate rows")
        assert(rows.map(_._2).toSeq == Seq(0L, 1000L, 2000L, 3000L))
      } finally c.stop()
    }
  }

  test("compaction retry after a crash in the rename-to-delete window prunes, not rewrites") {
    // The r5 ADVICE defect: merged segment + stale sources left by a
    // crashed compaction made the NEXT compaction recompute the same
    // [start, end) name and fail its rename forever (repeated
    // full-backlog IO). The fixed path detects the spanning segment and
    // finishes the deletes.
    withTempDir("graft-walr-") { tmp =>
      val ckpt = s"$tmp/sources/0"
      val walPath = java.nio.file.Paths.get(ckpt, "wal")
      java.nio.file.Files.createDirectories(walPath)
      def writeSeg(start: Int, msgs: Seq[String]): Unit =
        writeWalSegment(walPath, start,
          msgs.zipWithIndex.map { case (m, j) => (m, 1000L * (start + j), false) })
      val all = (0 until 8).map(i => s"ret $i")
      writeSeg(0, all)                       // the crashed compaction's merge 0-8
      (0 until 8).foreach(i => writeSeg(i, Seq(all(i))))  // its 8 stale sources
      // device gone; walMaxSegments = 4 < 9 live segments, so the commit
      // path's hygiene check invokes compaction, which must PRUNE the 8
      // stale singles (the spanning 0-8 already covers the backlog), not
      // rewrite-and-fail on the existing name
      val a = new TcpLineMicroBatchStream("localhost", 1, None, None,
        ckpt, walMaxSegments = 4)
      try {
        assert(a.latestOffset().asInstanceOf[TcpOffset].n == 8L)
        a.commit(TcpOffset(0))   // nothing durable yet — pure hygiene pass
        def segs() = java.nio.file.Files.list(walPath).toArray
          .map(p => p.asInstanceOf[java.nio.file.Path].getFileName.toString)
          .filter(_.matches("""\d+-\d+"""))
        val after = segs()
        assert(after.contains("0-8"), s"spanning segment deleted: ${after.toSeq}")
        assert(after.length == 1, s"stale sources not pruned: ${after.toSeq}")
        // and the whole range still replays exactly once
        val rows = rowsOf(a, a.planInputPartitions(TcpOffset(0), TcpOffset(8))(0))
        assert(rows.map(_._1).toSeq == all)
      } finally a.stop()
    }
  }

  test("WAL segment format: hostile payloads round-trip via an independent writer") {
    // The segment encoding (ts:i64, fresh:bool, len:i32, bytes) is a
    // COMPATIBILITY surface - a restarted (possibly upgraded) source
    // must replay segments an older incarnation wrote. This spec writes
    // segments with its own encoder and asserts the source's reader
    // returns them byte-exactly: empty messages, every ISO-8859-1 high
    // byte, embedded '\r', a 64 KiB line, and split points at segment
    // boundaries.
    withTempDir("graft-walf-") { tmp =>
      val ckpt = s"$tmp/sources/0"
      val walPath = java.nio.file.Paths.get(ckpt, "wal")
      java.nio.file.Files.createDirectories(walPath)
      val highBytes = new String((128 to 255).map(_.toByte).toArray,
        java.nio.charset.StandardCharsets.ISO_8859_1)
      val msgs: IndexedSeq[(String, Long, Boolean)] = IndexedSeq(
        ("", 1L, true),                       // empty frame
        (highBytes, 2L, false),               // all high bytes
        ("with\rcarriage", 3L, false),        // embedded CR survives
        ("x" * 65536, 4L, false),             // long line
        ("plain", 5L, true))
      def writeSeg(start: Int, upto: Int): Unit =
        writeWalSegment(walPath, start, msgs.slice(start, upto))
      writeSeg(0, 2); writeSeg(2, 3); writeSeg(3, 5)
      val src = new TcpLineMicroBatchStream("localhost", 1, None, None, ckpt)
      try {
        assert(src.latestOffset().asInstanceOf[TcpOffset].n == 5L)
        val rows = rowsOf(src, src.planInputPartitions(TcpOffset(0), TcpOffset(5))(0))
        assert(rows.toSeq == msgs, "WAL round-trip altered a payload")
        // a mid-segment range replays exactly its slice
        val mid = rowsOf(src, src.planInputPartitions(TcpOffset(1), TcpOffset(4))(0))
        assert(mid.toSeq == msgs.slice(1, 4))
      } finally src.stop()
    }
  }

  test("a planned partition names its WAL range: same size for 10 and 10 000 rows") {
    // Spark ships the partition inside every task, so it must only name
    // [start, end): the rows stay in the WAL, and a partition that
    // carried them would grow the task binary with the batch.
    withTempDir("graft-wals-") { tmp =>
      val ckpt = s"$tmp/sources/0"
      val walPath = java.nio.file.Paths.get(ckpt, "wal")
      java.nio.file.Files.createDirectories(walPath)
      writeWalSegment(walPath, 0, (0 until 10000).map(i => (s"size $i", i.toLong, false)))
      val src = new TcpLineMicroBatchStream("localhost", 1, None, None, ckpt)
      try {
        assert(src.latestOffset().asInstanceOf[TcpOffset].n == 10000L)
        def planned(end: Long) = src.planInputPartitions(TcpOffset(0), TcpOffset(end))(0)
        val small = javaBytes(planned(10)).length
        val large = javaBytes(planned(10000)).length
        assert(large < 1024, s"10 000-row partition serializes to $large bytes")
        assert(large == small, s"partition size grows with rows: $small -> $large bytes")
        val rows = rowsOf(src, planned(10000))
        assert(rows.length == 10000 && rows.last == (("size 9999", 9999L, false)))
      } finally src.stop()
    }
  }
}
