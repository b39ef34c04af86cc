package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One engine operator exposed through the driver contract: a named Spark
  * query over the testdata tables plus (when SQL-expressible) the exact
  * DuckDB oracle SQL the driver hash-compares against.
  *
  * Column names and value rounding MUST match between `spark` and `oracle`
  * — the driver sorts columns by name and hashes values.
  */
final case class Q(
    name: String,
    spark: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

/** The full operator registry for ONE knob set: the tuned modules are
  * instantiated with `tuning` (their oracle SQL interpolates the same
  * instance, so each registry is hash-checkable against its own knobs),
  * the knob-free modules contribute their singletons. Two registries
  * with different knobs coexist in one JVM — the library contract; the
  * process-wide default (driver contract, [[SparkEntry]]) is
  * [[QRegistry.default]], built from [[graft.config.Tuning.current]].
  */
final class QRegistry(val tuning: graft.config.Tuning) {
  // library-constructed registries must meet the same range contract the
  // property loader enforces: an out-of-range knob (ccEdgeJaccard NaN,
  // minhash 64-bit overflow bound) would otherwise produce silently
  // wrong plans AND matching-but-wrong oracle SQL
  tuning.validate()
  val all: Seq[Q] =
    new graft.operators.Relational(tuning).all ++
    graft.operators.Stats.all ++
    new graft.operators.Dedup(tuning).all ++
    new graft.operators.Similarity(tuning).all ++
    new graft.operators.TextOps(tuning).all ++
    new graft.operators.Bpe(tuning).all ++
    new graft.operators.Sp(tuning).all ++
    new graft.operators.Search(tuning).all ++
    graft.operators.Multimodal.all ++
    new graft.operators.MediaDedup(tuning).all ++
    new graft.operators.Assemble(tuning).all ++
    graft.operators.ParseOps.all
  val queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.spark).toMap
  /** Portable oracle SQL per query — built on first use (only
    * [[Verify]] reads it), not with every registry.
    */
  lazy val oracleSql: Map[String, String] =
    all.collect { case Q(n, _, Some(sql)) =>
      n -> SparkEntry.portableRoundSql(sql.trim)
    }.toMap
}

object QRegistry {
  /** The default-knob registry — what the driver contract serves. */
  lazy val default = new QRegistry(graft.config.Tuning.current)
}

object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    // every operator surface funnels through here at plan-build time —
    // the one place that guarantees the engine's SQL functions resolve
    // in whatever session the caller brought (idempotent, weak-keyed)
    graft.functions.GraftFunctions.ensureRegistered(spark)
    if (name == "events") {
      // events.ts has shipped in two parquet vintages: TIMESTAMP(NANOS)
      // (rejected by Spark's vectorized reader — read nanos as long and
      // truncate to micros) and plain timestamp[us] (surfaces as
      // TIMESTAMP_NTZ). Dispatch on the footer type the read actually
      // produced so either vintage loads; both paths land on session-UTC
      // TimestampType with identical micros — byte-identical to DuckDB's
      // own nanos→micros truncation.
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$dir/$name.parquet")
      df.schema("ts").dataType match {
        case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
        case _                => df
      }
    } else spark.read.parquet(s"$dir/$name.parquet")
  }

  /** Input-aware fan-out for row-local map stages (shingling, tokenizing,
    * per-row feature extraction): repartition ONLY when the scan yields
    * fewer splits than the session's parallelism. The local testdata
    * parquet is a single row group — one split — so without this the
    * compiled `mapPartitions` work runs on one core; but at production
    * scale the scan already yields ≥ cores splits and a blanket
    * `.repartition(parallelism)` would be a gratuitous full shuffle of
    * the corpus before work Parquet splits already parallelize.
    * Deciding from the planned partition count costs a plan compile,
    * not a job.
    */
  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (plannedScanSplits(df).getOrElse(rddPartitions(df)) < p)
      df.repartition(p)
    else df
  }

  /** The scan's file-split count from the PLAN, not from compiling the
    * DataFrame to an RDD: replicate FilePartition's packing arithmetic
    * (maxSplitBytes from maxPartitionBytes/openCost/minPartitionNum,
    * greedy size-desc packing with per-file open cost) over each
    * relation's already-listed FileIndex. Driver-side listing reuse —
    * no job, no RDD lineage materialization. None when the plan has no
    * file relation (then the RDD fallback decides).
    *
    * Multi-relation plans take the MAX of the per-relation estimates —
    * [[spread]] only wraps single-table scans, so the max answers "is
    * the widest scan already parallel enough" without conflating two
    * relations' files into one fictitious joint scan. Blind spot:
    * listFiles(Nil, Nil) ignores partition pruning, so a pruned scan's
    * estimate is an over-count (more splits than Spark will schedule) —
    * conservative for spread's purpose (it can only suppress a
    * repartition that pruning might have justified, never add one).
    */
  private def plannedScanSplits(df: DataFrame): Option[Int] = try {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val conf = df.sparkSession.sessionState.conf
    val rels = df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation
    }.collect { case h: HadoopFsRelation => h }
    if (rels.isEmpty) return None
    val openCost = conf.filesOpenCostInBytes
    val minParts = conf.filesMinPartitionNum
      .getOrElse(df.sparkSession.sparkContext.defaultParallelism)
    val perRel = rels.map { rel =>
      val sizes = rel.location.listFiles(Nil, Nil)
        .flatMap(_.files.map(_.getLen)).filter(_ > 0)
      if (sizes.isEmpty) 1
      else {
        val bytesPerCore = sizes.map(_ + openCost).sum / math.max(1, minParts)
        val maxSplit = math.min(conf.filesMaxPartitionBytes,
          math.max(openCost, bytesPerCore))
        val chunks = sizes.flatMap { len =>
          (0L until len by maxSplit).map(off => math.min(maxSplit, len - off))
        }.sortBy(-_)
        var count = 0
        var cur = 0L
        chunks.foreach { c =>
          if (cur + c > maxSplit) { count += 1; cur = 0L }
          cur += c + openCost
        }
        if (cur > 0) count + 1 else math.max(count, 1)
      }
    }
    Some(perRel.max)
  } catch { case _: Exception => None }

  /** Fallback for non-file plans (never hit by the operator modules —
    * every `spread` call wraps a [[t]] scan).
    */
  private def rddPartitions(df: DataFrame): Int = df.rdd.getNumPartitions

  /** Exact table row count from Parquet FOOTER metadata — no scan job,
    * no executor time. Used by the self-sizing operators (adaptive LSH
    * bits, ⌈√n⌉ IVF cells) whose `n` previously cost a full `count()`
    * pass over the corpus per query; footers record exact row counts,
    * so this is byte-equivalent to the oracle's `count(*)`. Driver-side
    * listing + footer reads — proportional to file count, not data
    * size. Falls back to a counting scan if the footer read fails
    * (non-parquet layout, odd filesystem).
    */
  def rowCount(spark: SparkSession, dir: String, name: String): Long =
    footerCount(spark, s"$dir/$name.parquet")
      .getOrElse(t(spark, dir, name).count())

  /** [[rowCount]]'s footer walk for an arbitrary parquet dir/file path
    * — None when the layout is unrecognized (caller decides whether a
    * scan fallback is worth it). Also the row-count primitive for the
    * store-stats surfaces, whose segment dirs aren't `<dir>/<name>
    * .parquet`-shaped.
    */
  def footerCount(spark: SparkSession, path: String): Option[Long] = {
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val conf = spark.sessionState.newHadoopConf()
      val fs = p.getFileSystem(conf)
      // RECURSIVE listing: partitioned layouts nest data files under
      // key=value subdirectories — a top-level-only listing would see
      // no files and silently report 0
      val rootUri = p.toUri.getPath
      val files = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.LocatedFileStatus]()
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val st = it.next()
        val n = st.getPath.getName
        // EVERY path component under the root must be visible: recursion
        // descends into _temporary/.staging dirs left by crashed writes,
        // whose part files have innocent leaf names and would be
        // double-counted on the leaf-name check alone
        val rel = st.getPath.toUri.getPath.stripPrefix(rootUri)
        val hidden = rel.split('/').exists(c => c.startsWith("_") || c.startsWith("."))
        if (st.isFile && n.endsWith(".parquet") && !hidden) files += st
      }
      if (files.isEmpty) None  // unrecognized layout — don't report 0
      else Some(files.iterator.map { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum)
    } catch { case _: Exception => None }
  }

  /** Layer row count for the store-stats surfaces: footer metadata when
    * readable, 0 when the path is ABSENT (a genuinely missing layer —
    * e.g. a store with no generation yet), and a loud counting-scan
    * fallback when the path EXISTS but its footers can't be read
    * (non-parquet layout, odd filesystem). Collapsing those last two
    * into 0 would make a present-but-unreadable layer silently
    * undercount `live_rows` — a stats surface must degrade to slower,
    * never to wrong. If even the counting scan throws, the layer's
    * `_SUCCESS` marker decides: absent (an empty or half-written dir —
    * a layer mid-install) reports 0 after a stderr note, because a
    * monitoring poll that crashes on that transient is worse than one
    * that briefly under-reports; present (the layer claims
    * completeness yet can't be scanned — corruption) propagates the
    * exception, because a permanent silent 0 there would be exactly
    * the "degrade to wrong" this contract forbids. "Mid-install" is
    * decided by CONTENT, not only the marker: parquet dirs written by
    * non-Spark writers (or committers configured without marker files)
    * never carry `_SUCCESS`, so an unreadable dir that holds VISIBLE
    * data entries propagates even without the marker — only an empty
    * dir or one containing nothing but staging/temporary entries
    * (`_temporary`, dot-dirs) is the transient this clause protects.
    */
  def layerCount(spark: SparkSession, path: String): Long =
    footerCount(spark, path).getOrElse {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(p)) 0L
      else {
        System.err.println(
          s"[graft] layerCount: footer read failed for existing path $path" +
            " — falling back to a counting scan")
        // true iff the dir holds no visible (non-staging) entries — a
        // writer mid-flight, not a completed dir some reader expects
        def stagingOnly: Boolean = try {
          fs.listStatus(p).forall { st =>
            val n = st.getPath.getName
            n.startsWith("_") || n.startsWith(".")
          }
        } catch { case _: Exception => false }
        // one retry absorbs the transient a v2/direct committer can
        // expose mid-job (a file renamed between the scan's listing
        // and its read → FileNotFoundException on a dir that is fine
        // a moment later); a second consecutive failure is real
        def scanOnce(): Long = spark.read.parquet(path).count()
        def isVanishedFile(e: Throwable): Boolean =
          e != null && (e.isInstanceOf[java.io.FileNotFoundException] ||
            isVanishedFile(e.getCause))
        try {
          try scanOnce()
          catch { case e: Exception if isVanishedFile(e) =>
            System.err.println(
              s"[graft] layerCount: counting scan hit a vanished file" +
                s" under $path (${e.getMessage}) — retrying once")
            scanOnce()
          }
        }
        catch {
          // only a MID-INSTALL layer degrades to a logged 0 — that is
          // the transient the pollable contract protects. Mid-install
          // = no _SUCCESS yet AND no visible data entries (empty or
          // staging-only dir). A layer with visible data that still
          // can't be scanned is corruption REGARDLESS of the marker
          // (non-Spark writers never write one); reporting 0 there
          // would be a silent permanent undercount, so it propagates.
          case e: Exception
              if !fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")) &&
                stagingOnly =>
            System.err.println(
              s"[graft] layerCount: counting scan failed for $path with" +
                s" no _SUCCESS marker and no visible entries" +
                s" (${e.getMessage}) — mid-install, reporting 0 to keep" +
                " the stats surface pollable")
            0L
        }
      }
    }
}

/** Shared column helpers, engine-portable by construction: every derived
  * value here has a byte-identical DuckDB formulation (see the paired
  * oracle SQL strings in the operator modules).
  */
object Cols {
  /** Portable rounding: `floor(x·10ⁿ + 0.5)/10ⁿ` in IEEE double
    * arithmetic — BIT-IDENTICAL in Spark and DuckDB given identical
    * input doubles. The engines' native `round` disagrees whenever a
    * double's shortest decimal representation lands exactly on the
    * rounding boundary (Spark goes through BigDecimal shortest-repr
    * HALF_UP, DuckDB stays in doubles): round(0.78775, 4) → 0.7878 vs
    * 0.7877. Clean-decimal derived values (ratios of small integers,
    * weighted scores) hit that boundary routinely, so every rounded
    * output goes through this instead. It also absorbs
    * summation-order fp differences, its original purpose.
    * [[graft.SparkEntry.oracleSql]] rewrites `round(x, n)` in the
    * oracle SQL to the same floor form.
    */
  private def rn(c: Column, scale: Double): Column =
    floor(c * lit(scale) + lit(0.5)) / lit(scale)
  def r2(c: Column): Column = rn(c, 1e2)
  def r4(c: Column): Column = rn(c, 1e4)
  def r6(c: Column): Column = rn(c, 1e6)

  /** Deterministic 60-bit hash both engines compute identically:
    * Spark:  conv(substr(md5(s),1,15),16,10)::long
    * DuckDB: ('0x' || substr(md5(s),1,15))::BIGINT
    * md5 is byte-stable everywhere; 15 hex digits keep it positive in
    * a signed 64-bit integer. This is the portable hash used by minhash /
    * LSH / fingerprint operators so the oracle can replay them exactly.
    */
  def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** The DuckDB-side rendering of [[md5Long]]. */
  def md5LongSql(expr: String): String =
    s"CAST('0x' || substr(md5($expr), 1, 15) AS BIGINT)"
}
