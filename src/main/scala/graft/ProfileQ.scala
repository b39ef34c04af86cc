package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev measurement tool (guide §1): run ONE registered query through the
  * noop sink — same methodology as [[Bench]] — and print per-stage wall
  * times with callsites, so a hot query's seconds can be attributed to
  * operators instead of guessed. Two passes; the second (warm JIT,
  * warm footers) is the one to read. No artifact of this main feeds any
  * query result — measurement only.
  *
  * Usage: ProfileQ <queryName> [sfDir] [passes]
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: ProfileQ <query> [sfDir]"))
    val sfDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val passes = args.drop(2).headOption.map(_.toInt).getOrElse(2)
    val spark = LocalSession("graft-profile", 32)

    // same prewarm as Bench: stores must exist so pass-1 times serving,
    // not the one-time build
    try graft.operators.Prewarm.artifacts(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"prewarm failed: ${e.getMessage}") }

    @volatile var record = false
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Int, String)]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = if (record) {
        val si = ev.stageInfo
        val ms = (for { c <- si.completionTime; s <- si.submissionTime } yield c - s).getOrElse(-1L)
        stages.add((si.stageId, ms, si.numTasks,
          si.name.take(80) + " @ " + si.details.linesIterator
            .filter(_.contains("graft")).take(2).mkString(" | ").take(160)))
      }
      private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      override def onJobStart(ev: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (record) starts.put(ev.jobId, (ev.time,
          Option(ev.properties).flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")))
      override def onJobEnd(ev: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (record) Option(starts.get(ev.jobId)).foreach { case (t0, cs) =>
          jobs.add((ev.jobId, t0, ev.time, cs))
        }
    })

    val fn = SparkEntry.queries(name)
    for (pass <- 1 to passes) {
      // Bench clears per-query caches between samples; do the same so
      // every pass repeats the query's full work and passes compare
      spark.catalog.clearCache()
      stages.clear()
      record = pass == passes  // record the LAST (warm) pass
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.optimizedPlan // force analysis + optimization
      val t2 = System.nanoTime()
      // sample ALL thread stacks during execution; attribute driver think
      // time (AQE replanning, codegen compile, broadcast build) by frame
      val sampling = new java.util.concurrent.atomic.AtomicBoolean(pass == passes)
      val hist = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      val sampler = new Thread(() => {
        while (sampling.get) {
          import scala.jdk.CollectionConverters._
          Thread.getAllStackTraces.asScala.foreach { case (th, st) =>
            if (th.getName != "profile-sampler" && st.nonEmpty && th.getState == Thread.State.RUNNABLE) {
              val interesting = st.find { f =>
                val c = f.getClassName
                c.contains("janino") || c.contains("CodeGenerator") ||
                c.contains("Adaptive") || c.contains("QueryExecution") ||
                c.contains("Optimizer") || c.contains("broadcast") ||
                c.contains("TorrentBroadcast") || c.contains("Parquet") ||
                c.contains("codegen") || c.contains("RuleExecutor")
              }.orElse(st.headOption)
              interesting.foreach { f =>
                val key = f.getClassName.split('.').last + "." + f.getMethodName
                hist.merge(key, 1, (a, b) => a + b)
              }
            }
          }
          Thread.sleep(50)
        }
      }, "profile-sampler")
      sampler.setDaemon(true)
      sampler.start()
      df.write.mode("overwrite").format("noop").save()
      sampling.set(false)
      val t3 = System.nanoTime()
      if (pass == passes) {
        import scala.jdk.CollectionConverters._
        println("== RUNNABLE frame histogram during execute (50 ms samples):")
        hist.asScala.toSeq.sortBy(-_._2).take(20).foreach { case (k, n) =>
          println(f"  $n%5d  $k")
        }
      }
      spark.catalog.clearCache()
      println(f"== pass $pass: total ${(t3 - t0) / 1e9}%.2f s  " +
        f"(build ${(t1 - t0) / 1e9}%.2f, optimize ${(t2 - t1) / 1e9}%.2f, " +
        f"execute ${(t3 - t2) / 1e9}%.2f)")
    }
    record = false
    import scala.jdk.CollectionConverters._
    val all = stages.asScala.toSeq.sortBy(-_._2)
    println(f"== ${all.size} stages, stage-time sum ${all.map(_._2).sum / 1e3}%.2f s (last pass)")
    all.take(25).foreach { case (id, ms, nt, nm) =>
      println(f"  stage $id%4d  ${ms / 1e3}%7.3f s  $nt%4d tasks  $nm")
    }
    // job timeline with inter-job driver gaps
    val jl = jobs.asScala.toSeq.sortBy(_._2)
    if (jl.nonEmpty) {
      println(f"== ${jl.size} jobs (last pass); timeline with gaps:")
      var prevEnd = jl.head._2
      jl.foreach { case (id, t0, t1, cs) =>
        val gap = t0 - prevEnd
        println(f"  job $id%4d  run ${(t1 - t0) / 1e3}%6.3f s  gap-before ${gap / 1e3}%6.3f s  $cs")
        prevEnd = math.max(prevEnd, t1)
      }
      println(f"== job-run sum ${jl.map(j => j._3 - j._2).sum / 1e3}%.2f s, " +
        f"span ${(jl.map(_._3).max - jl.head._2) / 1e3}%.2f s")
    }
    spark.stop()
  }
}
