package perfbench

import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import graft.{Q, SparkEntry}
import graft.operators._
import org.apache.spark.sql.{DataFrame, Row}

/** The batch-analytics workload: registered queries, each executed once
  * (its first execution in the process), after untimed warm-up queries
  * outside the timed set, with every store directory empty at the start
  * of the run.
  *
  * `Prewarm.artifacts` is not called: it builds every store up front
  * (about a minute on four cores, whatever the data size), more than one
  * run's share of the benchmark's time budget. A store is therefore
  * built inside the timed sample of the first query that serves from it,
  * so no build can leave the timed region.
  *
  * Each query is split at the engine's public boundaries: the registry
  * function builds the DataFrame, `queryExecution.optimizedPlan`
  * optimizes it, and `collect()` executes it. `collect` (not a `noop`
  * write) keeps the optimized plan of the optimize phase — a writer
  * would wrap the plan and optimize it again — and returns the rows the
  * output check needs without running the query a second time.
  */
object Queries {

  /** Registry module of every query, from each module's `.all`. */
  def modules(): Map[String, String] = {
    val t = graft.config.Tuning.current
    Seq[(String, Seq[Q])](
      "Relational" -> new Relational(t).all,
      "Stats" -> Stats.all,
      "Dedup" -> new Dedup(t).all,
      "Similarity" -> new Similarity(t).all,
      "TextOps" -> new TextOps(t).all,
      "Bpe" -> new Bpe(t).all,
      "Sp" -> new Sp(t).all,
      "Search" -> new Search(t).all,
      "Multimodal" -> Multimodal.all,
      "MediaDedup" -> new MediaDedup(t).all,
      "Assemble" -> new Assemble(t).all,
      "ParseOps" -> ParseOps.all,
    ).flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap
  }

  final case class Timing(name: String, module: String, ok: Boolean,
      error: String, b0: Double, b1: Double, o1: Double, e1: Double,
      rddsLeft: Int, storeBytes: Long, rows: Long, digest: String)

  /** Bytes under the store root: the stores a query built on first touch. */
  private def treeBytes(root: String): Long = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
  }

  def run(o: Map[String, String]): Unit = {
    val trace = new Trace(o("trace") == "1")
    val data = o("data")
    val scratch = o("scratch")
    val names = o("queries").split(',').toSeq
    val spark = trace("setup.session")(Session.create("perfbench-queries", scratch))
    val log = new JobLog
    if (trace.on) spark.sparkContext.addSparkListener(log)
    val registry = SparkEntry.queries
    val moduleOf = modules()
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty, s"unregistered queries: ${missing.mkString(",")}")

    val warmup = o("warmup").split(',').toSeq
    require(warmup.forall(registry.contains) && !warmup.exists(names.contains),
      "warm-up queries must be registered and outside the timed set")
    trace("setup.warmup") {
      warmup.foreach { n =>
        registry(n)(spark, data).write.mode("overwrite").format("noop").save()
        spark.catalog.clearCache()
      }
    }
    val stores = o("stores")
    val readyMs = Clock.ms()

    // timed loop: build, optimize, execute per query; rows are kept for
    // the output check after the loop
    var storeBytes = if (trace.on) treeBytes(stores) else 0L
    val cpu0 = Proc.cpuSeconds()
    val steal0 = Proc.cpuTicks()
    val l0 = Clock.ms()
    val results = names.map { name =>
      trace("query", name) {
        val b0 = Clock.ms()
        var b1, o1 = b0
        var out: Array[Row] = null
        var df: DataFrame = null
        val err =
          try {
            df = trace("query.build", name)(registry(name)(spark, data))
            b1 = Clock.ms()
            trace("query.optimize", name)(df.queryExecution.optimizedPlan)
            o1 = Clock.ms()
            out = trace("query.execute", name)(df.collect())
            ""
          } catch { case e: Throwable =>
            System.err.println(s"[perfbench] $name failed: $e")
            String.valueOf(e.getMessage).take(200)
          }
        val e1 = Clock.ms()
        if (b1 == b0) b1 = e1
        if (o1 == b0) o1 = e1
        spark.catalog.clearCache()
        val left = spark.sparkContext.getPersistentRDDs.size
        val built = if (trace.on) treeBytes(stores) - storeBytes else 0L
        storeBytes += built
        (Timing(name, moduleOf.getOrElse(name, "?"), err.isEmpty, err,
          b0, b1, o1, e1, left, built, 0L, ""), Option(out).map(r => (df, r)))
      }
    }
    val loopS = (Clock.ms() - l0) / 1000.0
    val cpuS = Proc.cpuSeconds() - cpu0
    val stealPct = Proc.stealPct(steal0)
    val liveHeap = Proc.liveHeapMb()

    val checked = results.map { case (t, out) =>
      out.fold(t) { case (df, rows) =>
        t.copy(rows = rows.length.toLong, digest = digest(df.schema.fieldNames, rows))
      }
    }
    if (trace.on) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val jobs = log.allJobs
    val stages = log.stages
    val perQuery = checked.map { t =>
      def within(ms: Long, a: Double, b: Double) = ms >= a && ms < b
      val buildJobs = jobs.count(j => within(j.startMs, t.b0, t.b1))
      val execJobs = jobs.count(j => within(j.startMs, t.o1, t.e1))
      val st = stages.filter(s => within(s.submitMs, t.b0, t.e1))
      Map(
        "name" -> t.name, "module" -> t.module, "ok" -> t.ok, "error" -> t.error,
        "build_s" -> (t.b1 - t.b0) / 1000.0,
        "optimize_s" -> (t.o1 - t.b1) / 1000.0,
        "execute_s" -> (t.e1 - t.o1) / 1000.0,
        "rows" -> t.rows, "digest" -> t.digest, "rdds_left" -> t.rddsLeft,
        "store_bytes" -> t.storeBytes,
        "build_jobs" -> buildJobs, "execute_jobs" -> execJobs,
        "stages" -> st.size, "tasks" -> st.map(_.tasks).sum,
        "driver_gap_s" -> idleSeconds(jobs, t.o1, t.e1),
        "shuffle_read_bytes" -> st.map(_.shuffleRead).sum,
        "shuffle_write_bytes" -> st.map(_.shuffleWrite).sum,
        "spill_bytes" -> st.map(_.spill).sum,
        "peak_exec_mem_bytes" -> (0L +: st.map(_.peakExecMem)).max)
    }
    trace.write(o("trace_out"))
    Json.write(o("out"), Map(
      "ready_ms" -> readyMs, "loop_s" -> loopS,
      "cpu_s" -> cpuS, "steal_pct" -> stealPct,
      "peak_rss_mb" -> Proc.peakRssMb(), "live_heap_mb" -> liveHeap,
      "queries" -> perQuery))
    spark.stop()
  }

  /** Seconds of [a, b) during which no Spark job was running. */
  private def idleSeconds(jobs: Seq[JobLog#Job], a: Double, b: Double): Double = {
    val iv = jobs.map(j => (math.max(a, j.startMs.toDouble), math.min(b, j.endMs.toDouble)))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0.0
    var cur = a
    iv.foreach { case (s, e) =>
      val s1 = math.max(s, cur)
      if (e > s1) { busy += e - s1; cur = e }
    }
    (b - a - busy) / 1000.0
  }

  /** Order-insensitive digest of a result, canonicalized as the oracle
    * check does: columns sorted by name, doubles to 10 significant
    * digits, binary as hex, rows sorted.
    */
  def digest(cols: Array[String], rows: Array[Row]): String = {
    val order = cols.indices.sortBy(cols(_))
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-1")
    md.update(order.map(cols(_)).mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    md.digest().map(b => f"$b%02x").mkString
  }

  private def canon(v: Any): String = v match {
    case null => "None"
    case d: Double => if (d.isNaN) "NaN" else String.format(java.util.Locale.ROOT, "%.10g", Double.box(d))
    case f: Float => canon(f.toDouble)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}
