package graft.sources

import java.io.{BufferedInputStream, ByteArrayOutputStream}
import java.net.{InetSocketAddress, Socket, SocketTimeoutException}
import java.util
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DSv2 micro-batch TCP source — the Spark-native rebuild of the
  * reference's resilient ingest client (S1-S5, readport.py:64-163,
  * 422-464):
  *
  *  - newline framing with partial/coalesced message handling
  *    (readport.py:122-149): one row per `\n`-terminated message
  *  - infinite reconnect at 1 s intervals (readport.py:95-118); data
  *    during an outage is lost at the device, as in the reference
  *  - read timeout → descriptive error → reconnect (readport.py:140-143)
  *  - `fresh` column: first message after (re)connect, so the parse
  *    stage can demote torn-first-message errors (readport.py:88-93)
  *  - arrival timestamp stamped at read (readport.py:449-453)
  *
  * Bytes are decoded ISO-8859-1 (bijective byte↔char) so regex
  * extraction stays byte-exact against binary device payloads
  * (SURVEY.md §7 hard part (c)).
  *
  * Scale posture: one stream per device, framed on the driver and
  * written to the WAL there, read back by the batch's task —
  * identical to the reference's one-process-per-device envelope
  * (~60 msg/s/station). A thousand devices are a thousand independent
  * queries (or a Kafka front-end); this source is the edge adapter,
  * not the fan-in.
  *
  * Usage: `spark.readStream.format("graft-socket")
  *   .option("host", h).option("port", p).option("timeoutSec", 120)`
  * → schema `value: string, time: timestamp, fresh: boolean`.
  */
class TcpLineSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-socket"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TcpLineSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new TcpLineTable(properties)
}

object TcpLineSource {
  val Schema: StructType = StructType(Seq(
    StructField("value", StringType, nullable = false),
    StructField("time", TimestampType, nullable = false),
    StructField("fresh", BooleanType, nullable = false)))
}

class TcpLineTable(properties: util.Map[String, String])
    extends Table with SupportsRead {
  override def name(): String =
    s"graft-socket(${properties.get("host")}:${properties.get("port")})"
  override def schema(): StructType = TcpLineSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = TcpLineSource.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new TcpLineMicroBatchStream(
            options.get("host"),
            options.getInt("port", 0),
            Option(options.get("timeoutSec")).map(_.toDouble),
            Option(options.get("maxMessagesPerTrigger")).map(_.toLong),
            checkpointLocation,
            options.getInt("walMaxSegments", 8))
      }
    }
}

/** Offset = count of messages read since stream start. */
case class TcpOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

object TcpLineMicroBatchStream
    extends org.apache.spark.internal.Logging {

  /** The stream's checkpointed high-water mark: the newest entry of the
    * query's offset log (last line of `<ckptRoot>/offsets/<maxBatch>` —
    * this source serializes its offset as a bare number). Spark hands
    * the source `<ckptRoot>/sources/<id>`, so the query root is two
    * levels up. 0 when there is no checkpoint yet (fresh query) or the
    * layout is unreadable.
    *
    * Read at CONSTRUCTION so a restarted incarnation numbers its buffer
    * from the previous incarnation's watermark from the very first
    * engine call — recovery does NOT reliably pass checkpointed offsets
    * through `deserializeOffset` before the first `latestOffset`, and a
    * fresh buffer numbered from 0 under a committed watermark w would
    * have its first w new messages silently swallowed as already
    * committed.
    */
  def checkpointedWatermark(sourceCheckpointLocation: String): Long = try {
    val src = new org.apache.hadoop.fs.Path(sourceCheckpointLocation)
    val root =
      if (src.getParent != null && src.getParent.getName == "sources")
        src.getParent.getParent
      else src
    val offsets = new org.apache.hadoop.fs.Path(root, "offsets")
    val fs = offsets.getFileSystem(sessionHadoopConf())
    if (!fs.exists(offsets)) 0L
    else {
      val batches = fs.listStatus(offsets).map(_.getPath.getName)
        .flatMap(_.toLongOption)
      if (batches.isEmpty) 0L
      else {
        val latest = new org.apache.hadoop.fs.Path(offsets, batches.max.toString)
        val in = fs.open(latest)
        val txt =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        txt.linesIterator.map(_.trim).filter(_.nonEmpty)
          .toSeq.lastOption.flatMap(_.toLongOption).getOrElse(0L)
      }
    }
  } catch { case _: Exception => 0L }

  /** The SESSION's hadoop conf: a bare Configuration() lacks the
    * spark.hadoop.* filesystem settings/credentials, so on s3a/hdfs
    * checkpoints reads would throw, be swallowed, and silently
    * re-enable the restart message-swallowing bug.
    */
  def sessionHadoopConf(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private val SegName = """^(\d+)-(\d+)$""".r

  /** All WAL segments under `walDir` as (startOffset, endOffset, path),
    * sorted; segments are non-overlapping by construction.
    */
  def listSegments(walFs: org.apache.hadoop.fs.FileSystem,
      walDir: org.apache.hadoop.fs.Path): Seq[(Long, Long, org.apache.hadoop.fs.Path)] =
    if (!walFs.exists(walDir)) Seq.empty
    else walFs.listStatus(walDir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case SegName(a, b) => Some((a.toLong, b.toLong, st.getPath))
        case _ => None
      }
    }.sortBy(_._1)

  /** Read rows [s, e) out of the WAL — the read path of every batch,
    * fresh or replayed after a restart. The cursor tracks the next
    * offset still needed, which both skips already-served prefixes and
    * DEDUPES overlapping segments — the legal state a crash between
    * compaction's rename and its deletes leaves behind.
    */
  def readWal(walFs: org.apache.hadoop.fs.FileSystem,
      walDir: org.apache.hadoop.fs.Path,
      s: Long, e: Long): Array[(String, Long, Boolean)] = {
    val out = ArrayBuffer[(String, Long, Boolean)]()
    var cursor = s
    if (s < e) listSegments(walFs, walDir).foreach { case (a, b, p) =>
      if (b > cursor && a < e) {
        val in = new java.io.DataInputStream(
          new BufferedInputStream(walFs.open(p)))
        try {
          var off = a
          val hi = math.min(b, e)
          while (off < hi) {
            val ts = in.readLong(); val fresh = in.readBoolean()
            val bytes = new Array[Byte](in.readInt()); in.readFully(bytes)
            if (off >= cursor)
              out += ((new String(bytes,
                java.nio.charset.StandardCharsets.ISO_8859_1), ts, fresh))
            off += 1
          }
          cursor = math.max(cursor, hi)
        } finally in.close()
      }
    }
    out.toArray
  }

  /** The task side of a batch: read its [[TcpWalRange]] from the WAL. */
  def reader(range: TcpWalRange,
      conf: org.apache.hadoop.conf.Configuration): PartitionReader[InternalRow] = {
    val dir = new org.apache.hadoop.fs.Path(range.walDir)
    val rows = readWal(dir.getFileSystem(conf), dir, range.start, range.end)
    if (rows.length < range.end - range.start)
      logWarning(s"graft-socket WAL $dir: range [${range.start}, ${range.end}) " +
        s"served ${rows.length} of ${range.end - range.start} rows — the " +
        "rest are missing from the WAL (segments deleted?)")
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = {
        val (msg, ts, fresh) = rows(i)
        InternalRow(UTF8String.fromString(msg), ts, fresh)
      }
      override def close(): Unit = ()
    }
  }
}

/** @param maxPerTrigger X2 admission cap: at most this many messages per
  *   micro-batch, the Spark twin of the reference's bounded queue that
  *   screams-and-dies on overflow (readport.py:457-464). Here overflow
  *   cannot drop data — `latestOffset` simply meters the backlog out
  *   across triggers, so a post-stall burst can't produce one giant
  *   batch that blows executor memory.
  *
  * Every batch reads its range from a write-ahead log (round 3): framed
  * messages wait in the driver buffer only until the next trigger
  * writes them as one WAL segment under the source checkpoint, BEFORE
  * their offsets are exposed to the engine; the buffer then drops them.
  * A batch's one partition is its range `(walDir, start, end)`, and its
  * task reads those rows back out of the WAL, so a fresh batch and a
  * batch replayed after a restart run the same code. On restart the
  * new incarnation numbers its buffer from the WAL high-water mark —
  * at-least-once end-to-end, upgraded to exactly-once by the
  * offset-tracked parquet sink. Committed segments are deleted on
  * commit, so the WAL holds only in-flight batches. The one remaining
  * gap matches the reference's process-local queue
  * (readport.py:445-455): messages buffered but never yet persisted die
  * with the process, exactly as the reference loses its queue on a
  * crash.
  *
  * @param checkpointLocation the source checkpoint dir Spark passes to
  *   `toMicroBatchStream`; the WAL lives in its `wal` subdir.
  */
class TcpLineMicroBatchStream(host: String, port: Int,
    timeoutSec: Option[Double], maxPerTrigger: Option[Long],
    checkpointLocation: String, walMaxSegments: Int = 8)
    extends MicroBatchStream with org.apache.spark.internal.Logging {
  import TcpLineMicroBatchStream.{listSegments, readWal, sessionHadoopConf}

  private val lock = new Object
  // (message, arrival micros, fresh) not yet in the WAL; messages(0)
  // sits at global offset `persisted`
  private val messages = ArrayBuffer[(String, Long, Boolean)]()

  // --- WAL state
  private val walDir = new org.apache.hadoop.fs.Path(checkpointLocation, "wal")
  private lazy val walFs: org.apache.hadoop.fs.FileSystem =
    walDir.getFileSystem(sessionHadoopConf())

  // Resume point, computed at CONSTRUCTION so a restarted incarnation
  // numbers its buffer correctly from the very first engine call
  // (recovery does NOT reliably pass checkpointed offsets through
  // deserializeOffset before the first latestOffset). WAL end >= the
  // offset-log watermark whenever the WAL is intact (persist happens
  // before expose); the max() also covers a manually-deleted WAL.
  private val resumeAt: Long = {
    val w = TcpLineMicroBatchStream.checkpointedWatermark(checkpointLocation)
    // sweep crash-torn segment writes (never listed as segments, but
    // they'd otherwise accumulate one per crash)
    try {
      if (walFs.exists(walDir))
        walFs.listStatus(walDir).filter(_.getPath.getName.startsWith(".tmp-"))
          .foreach(st => walFs.delete(st.getPath, false))
    } catch { case _: Exception => () }
    val walEnd = (try listSegments(walFs, walDir) catch { case _: Exception => Seq.empty })
      .map(_._2).maxOption.getOrElse(0L)
    if (math.max(w, walEnd) > 0) {
      if (walEnd >= w)
        logInfo(s"graft-socket $host:$port: resuming at offset " +
          s"${math.max(w, walEnd)}; uncommitted ranges replay from the " +
          "WAL (at-least-once)")
      else
        logWarning(s"graft-socket $host:$port: resuming at offset " +
          s"${math.max(w, walEnd)} with no covering WAL — the restart " +
          "gap is lost (at-most-once, the reference's process-restart " +
          "semantics)")
    }
    math.max(w, walEnd)
  }

  // Offset bookkeeping, all on the engine's trigger thread (persist /
  // expose / commit / compact run there); the reader thread only
  // appends to `messages`.
  // highest offset durable in the WAL; only durable offsets are exposed
  private var persisted = resumeAt
  // highest end offset exposed to the engine or committed by it; the
  // admission cap advances from here (Spark may plan the next trigger
  // before the previous commit lands)
  private var lastEnd = resumeAt
  // the trigger-time compaction's floor: the highest committed offset,
  // or the resume point until the first commit (an older incarnation's
  // segments all end at or below it and are left to the commit path)
  private var compactFloor = resumeAt
  // live-segment estimate, so the per-trigger hygiene check costs no FS
  // listing; re-synced from the real listing at each commit
  private var segCount = 0

  private val stopped = new AtomicBoolean(false)
  @volatile private var readerThread: Thread = _
  @volatile private var activeSocket: Socket = _
  // hoisted: a per-message sys.props lookup would sit on the hot path
  private val traceEnabled = sys.props.contains("graft.socket.trace")

  // the session's Hadoop conf for the tasks' WAL reads, shipped once per
  // stream rather than inside every batch
  private lazy val walConf =
    org.apache.spark.sql.SparkSession.active.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(sessionHadoopConf()))

  private def ensureReader(): Unit = lock.synchronized {
    if (readerThread == null) {
      readerThread = new Thread(() => readLoop(), s"graft-socket-$host:$port")
      readerThread.setDaemon(true)
      readerThread.start()
    }
  }

  /** Connect-retry + read-frame loop (reference listen_device,
    * readport.py:422-464).
    */
  private def readLoop(): Unit = {
    while (!stopped.get()) {
      var socket: Socket = null
      try {
        socket = new Socket()
        activeSocket = socket  // stop() closes it to unblock a read
        socket.connect(new InetSocketAddress(host, port), 5000)
        timeoutSec.foreach(t => socket.setSoTimeout((t * 1000).toInt))
        val in = new BufferedInputStream(socket.getInputStream)
        var fresh = true  // S4: first message after (re)connect
        val buf = new ByteArrayOutputStream()
        var b = in.read()
        while (!stopped.get() && b != -1) {
          if (b == '\n') {
            val msg = new String(buf.toByteArray, java.nio.charset.StandardCharsets.ISO_8859_1)
            buf.reset()
            val now = System.currentTimeMillis() * 1000L  // micros
            lock.synchronized { messages += ((msg, now, fresh)) }
            if (traceEnabled)
              logWarning(s"TRACE recv inst=${System.identityHashCode(this)} " +
                s"stopped=${stopped.get} msg=${msg.take(80)}")
            fresh = false
          } else buf.write(b)
          b = in.read()
        }
        // -1: peer closed → reconnect (readport.py:134-139)
      } catch {
        case _: SocketTimeoutException => // S3: idle timeout → reconnect
        case _: java.io.IOException    => // connect refused / reset → retry
      } finally {
        if (socket != null) try socket.close() catch { case _: Exception => }
      }
      if (!stopped.get())
        try Thread.sleep(1000)  // S2: 1 s retry interval
        catch { case _: InterruptedException => return }  // stop() requested
    }
  }

  override def initialOffset(): Offset = TcpOffset(0L)

  // construction already seated `persisted` at the WAL high-water mark,
  // which bounds every checkpointed offset (persist-before-expose)
  override def deserializeOffset(json: String): Offset = TcpOffset(json.toLong)

  /** Write rows as the WAL segment `<start>-<start+rows.length>`, via a
    * dotfile + rename so a torn write is never listed as a segment.
    * Shared by [[persistPending]] (append path) and [[compactSegments]]
    * (rewrite path).
    */
  private def writeSegment(start: Long,
      rows: Array[(String, Long, Boolean)],
      allowReplace: Boolean = false): Unit = {
    if (!walFs.exists(walDir)) walFs.mkdirs(walDir)
    val end = start + rows.length
    val tmp = new org.apache.hadoop.fs.Path(walDir, s".tmp-$start-$end")
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(walFs.create(tmp, true)))
    try rows.foreach { case (msg, ts, fresh) =>
      val bytes = msg.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      out.writeLong(ts); out.writeBoolean(fresh)
      out.writeInt(bytes.length); out.write(bytes)
    } finally out.close()
    val seg = new org.apache.hadoop.fs.Path(walDir, s"$start-$end")
    // only the COMPACTION caller may replace a same-named segment (a
    // crashed compaction's output for the identical [start, end) range —
    // same deterministic content). The append path keeps rename-refusal
    // fatal: a colliding name there means a bookkeeping bug, and a
    // silent replace would swallow the evidence.
    if (allowReplace && walFs.exists(seg)) walFs.delete(seg, false)
    if (!walFs.rename(tmp, seg))
      throw new java.io.IOException(
        s"graft-socket WAL: rename failed for segment [$start, $end)")
  }

  /** Move the whole buffer into the WAL as one segment, then drop it
    * from the buffer. File IO runs OUTSIDE the buffer lock so the
    * reader thread keeps ingesting during the write; what it appends
    * meanwhile stays buffered for the next trigger.
    */
  private def persistPending(): Unit = {
    val slice = lock.synchronized(messages.toArray)
    if (slice.nonEmpty) {
      writeSegment(persisted, slice)
      lock.synchronized(messages.remove(0, slice.length))
      persisted += slice.length
      segCount += 1
      // hygiene even when the sink never commits (a long-running batch
      // or a stalled downstream): without this, one segment per trigger
      // accumulates thousands of small files under the checkpoint
      if (segCount > walMaxSegments) compactSegments(compactFloor)
    }
  }

  /** Merge every live (not fully committed) segment into ONE when their
    * count exceeds `walMaxSegments`: a slow or stalled sink otherwise
    * accumulates one small file per trigger, unbounded. The merged
    * segment covers [max(committed, first live start), last live end)
    * and is renamed into place BEFORE the old segments are deleted, so
    * a crash anywhere in between leaves overlapping-but-consistent
    * segments that [[TcpLineMicroBatchStream.readWal]]'s cursor dedupes.
    * Cost is one rewrite of the uncommitted backlog per
    * `walMaxSegments` triggers — zero in the steady state where the
    * sink commits every trigger (the commit-path delete keeps the count
    * at 1-2).
    */
  private def compactSegments(committed: Long): Unit = try {
    val live = listSegments(walFs, walDir).filter(_._2 > committed)
    segCount = live.length
    if (live.length > walMaxSegments) {
      val start = math.max(committed, live.map(_._1).min)
      val end = live.map(_._2).max
      // a crash between a previous compaction's rename and its deletes
      // leaves the merged segment beside its stale sources; every row
      // still needed is inside the spanning segment, so finish the
      // deletes instead of rewriting the whole backlog again
      val spanning = live.filter { case (a, b, _) => a <= start && b >= end }
      if (spanning.nonEmpty) {
        val keep = spanning.map(_._3.getName).toSet
        live.foreach { case (_, _, p) =>
          if (!keep.contains(p.getName)) walFs.delete(p, false)
        }
        segCount = spanning.length
        logInfo(s"graft-socket $host:$port: pruned ${live.length - spanning.length} " +
          s"stale WAL segments overlapped by [$start, $end)")
        return
      }
      val rows = readWal(walFs, walDir, start, end)
      // only compact a gapless backlog: a hole (manually deleted
      // segment) must not be papered over with a mislabeled range
      if (rows.length == (end - start).toInt) {
        writeSegment(start, rows, allowReplace = true)
        val merged = s"$start-$end"
        live.foreach { case (_, _, p) =>
          if (p.getName != merged) walFs.delete(p, false)
        }
        segCount = 1
        logInfo(s"graft-socket $host:$port: compacted ${live.length} WAL " +
          s"segments into [$start, $end)")
      }
    }
  } catch { case ex: Exception =>
    // non-fatal: compaction failure costs disk, never data
    logWarning(s"graft-socket WAL: compaction failed: $ex")
  }

  override def latestOffset(): Offset = {
    ensureReader()
    // durability BEFORE visibility: every offset the engine can plan
    // against is already in the WAL, so a crash between planning and
    // commit can always be replayed
    persistPending()
    // X2: meter a backlog out across triggers instead of one huge batch
    val end = maxPerTrigger.fold(persisted)(cap => math.min(persisted, lastEnd + cap))
    lastEnd = math.max(lastEnd, end)
    TcpOffset(end)
  }

  // persist-before-expose puts every plannable range in the WAL, so the
  // partition only names it; fresh and replayed batches read it alike
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    Array(TcpWalRange(walDir.toString,
      start.asInstanceOf[TcpOffset].n, end.asInstanceOf[TcpOffset].n))

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = walConf
    (partition: InputPartition) =>
      TcpLineMicroBatchStream.reader(partition.asInstanceOf[TcpWalRange], conf.value.value)
  }

  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[TcpOffset].n
    // a checkpoint-replayed commit beyond anything this incarnation
    // persisted (its WAL gone): buffered, never-exposed messages number
    // on from the committed mark
    persisted = math.max(persisted, e)
    lastEnd = math.max(lastEnd, e)
    compactFloor = math.max(compactFloor, e)
    // fully-committed segments are no longer needed for replay; a
    // partially-committed segment (batch boundary inside it) stays.
    // Cleanup failure is non-fatal — it only costs disk, not data.
    try {
      val segs = listSegments(walFs, walDir)
      segs.foreach { case (_, b, p) => if (b <= e) walFs.delete(p, false) }
      segCount = segs.count(_._2 > e)  // re-sync the estimate
      if (segCount > walMaxSegments) compactSegments(e)
    } catch { case ex: Exception =>
      logWarning(s"graft-socket WAL: segment cleanup failed: $ex")
    }
  }

  /** Graceful drain (X3): interrupt doesn't unblock a socket read, so
    * close the active connection too, then give the reader a moment to
    * exit — a zombie reader would keep consuming the device's bytes
    * into a dead buffer and fight a restarted query for the connection.
    */
  override def stop(): Unit = {
    stopped.set(true)
    // retry close+join: the reader may have just passed its loop-top
    // stopped check and opened a NEW socket after our close — each
    // round closes the latest one until the thread is provably gone
    var attempts = 0
    while (readerThread != null && readerThread.isAlive && attempts < 5) {
      val s = activeSocket
      if (s != null) try s.close() catch { case _: Exception => }
      readerThread.interrupt()
      try readerThread.join(600) catch { case _: InterruptedException => }
      attempts += 1
    }
  }
}

/** One batch's input: the WAL range [start, end) its task reads. */
case class TcpWalRange(walDir: String, start: Long, end: Long)
    extends InputPartition
