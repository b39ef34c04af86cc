package graft.operators

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Keyed on-disk artifact installation and the one segment-store
  * lifecycle built on it. Seven stores share it, in two shapes:
  *
  *  - gen+adds: the BM25 and runs indexes ([[Search]]), the corpus LM
  *    ([[TextOps]]), the dHash media lake ([[MediaDedup]]) and the BPE
  *    training-shard lake ([[Bpe]]). A DML add installs a content-keyed
  *    `deltas/add-<key>` segment ([[dmlAdd]]); a replay of a folded
  *    batch no-ops off `consumed.txt`.
  *  - layered: the ANN index ([[Similarity]]) and the dedup signature
  *    lake ([[Dedup]]). They also install `deltas/del-<key>` tombstone
  *    segments, carry tombstones that still shadow a bottom-layer row
  *    in each generation, and fold the whole store into rebase bases
  *    (`bases/base-%05d-<key>`) that replace the root tables.
  *
  * Both shapes read one snapshot ([[deltaView]]), fold into
  * `gens/gen-%05d-<key>` ([[compactStore]]), auto-fold past a segment
  * bound ([[maybeCompact]]) and reclaim space with one [[vacuumStore]].
  * The media fixture ([[Multimodal.MediaLake]]) and the build-once
  * store roots use [[ensure]] alone. One copy of the
  * concurrency-sensitive install invariants, bug-fixed in one place:
  *
  *  - a target dir is COMPLETE iff a top-level `_SUCCESS` exists, and
  *    the marker is the LAST thing written before the rename;
  *  - a target without the marker is a crashed writer's leftovers —
  *    but the marker is re-checked IMMEDIATELY before deleting, so a
  *    completed artifact another process renamed into place since the
  *    outer check is never removed out from under a reader;
  *  - staging dirs are per-writer-unique (UUID suffix), so racing
  *    processes cannot overwrite-delete each other mid-write and
  *    install a mixed artifact under a marker;
  *  - losing the rename race is SUCCESS when (and only when) the
  *    builder is deterministic and the target path keys everything the
  *    bytes depend on — every caller guarantees this (content keys, or
  *    version + knob + data-fingerprint keys).
  */
private[operators] object ArtifactLake {

  /** Install `target` if not already complete. `build` populates the
    * passed staging dir; a `_SUCCESS` the build itself created (e.g. a
    * parquet commit into the staging root) is honored, otherwise one
    * is created after `build` returns. Returns true iff THIS call
    * performed the build (false = already installed, or lost the
    * install race to an identical artifact).
    */
  def ensure(target: File)(build: File => Unit): Boolean = {
    if (new File(target, "_SUCCESS").isFile) return false
    target.getParentFile.mkdirs()
    if (target.exists()) {
      if (new File(target, "_SUCCESS").isFile) return false
      deleteTree(target)
    }
    val staging = new File(target.getParentFile,
      s".${target.getName}.staging-${java.util.UUID.randomUUID().toString.take(8)}")
    build(staging)
    val marker = new File(staging, "_SUCCESS")
    if (!marker.isFile && !marker.createNewFile())
      throw new java.io.IOException(s"artifact marker create failed: $staging")
    if (!staging.renameTo(target)) {
      deleteTree(staging)
      if (!new File(target, "_SUCCESS").isFile)
        throw new java.io.IOException(s"artifact rename failed: $target")
    }
    true
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Fingerprint of a source table's FILE LISTING (names, sizes,
    * mtimes) — a stat-only walk, no data read. Part of an artifact's
    * key: the stored content depends on the source CONTENT, not just
    * the dir path, so a regenerated table at the same path re-keys and
    * can never be served a stale artifact (the failure would otherwise
    * surface as oracle hash-mismatches misdiagnosed as engine bugs —
    * or, for the oracle-less serving paths, as silently wrong
    * results). Non-local paths fall back to path-only keying ("nofp").
    */
  def fingerprint(table: File): String = try {
    def walk(f: File): Seq[File] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    val sig = walk(table)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString("|")
    if (sig.isEmpty) "nofp"
    else java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
  } catch { case _: Exception => "nofp" }

  /** Write `lines` to `f`, one per line, UTF-8. Write errors throw: a
    * swallowed error would let a fold publish `_SUCCESS` over a
    * truncated `consumed.txt`, and serving would then union a
    * generation with the very segments it folded.
    */
  def writeLines(f: File, lines: Seq[String]): Unit =
    java.nio.file.Files.write(f.toPath,
      lines.map(_ + "\n").mkString.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  // ------------------------------------------------------------------
  // The store layout. Under a store root `p`:
  //  - `deltas/add-<key>/`, `deltas/del-<key>/`: immutable, content-
  //    keyed DML segments (tombstone segments hold `ids`);
  //  - `gens/gen-<%05d seq>-<key>/`: a generation, the FOLD of the
  //    previous generation and every segment installed since (adds
  //    merged, tombstones applied), plus `consumed.txt`, the cumulative
  //    names of the segments it subsumes;
  //  - `bases/base-<%05d seq>-<key>/`: a rebase base (layered stores),
  //    the FULL fold of the store, plus `consumed.txt` and `gens.txt`
  //    (every generation it subsumes).
  // Serving reads bottom layer ∪ current generation ∪ only the
  // UNCONSUMED segments, so after a fold the per-serve union list
  // resets without deleting anything a racing reader might hold open.
  // Segments and layers are only ever ADDED, or vacuumed under the
  // single-writer maintenance contract. Every install is the staged
  // rename [[ensure]]; losing a race to an identical layer is success.
  // ------------------------------------------------------------------

  /** The newest complete `gen-`/`base-` layer under `p/<kind>s`;
    * `%05d` sequence names sort lexicographically.
    */
  private def newest(p: String, kind: String): Option[File] =
    Option(new File(s"$p/${kind}s").listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith(s"$kind-") &&
        new File(f, "_SUCCESS").isFile)
      .sortBy(_.getName).lastOption

  /** The sequence number of a `gen-`/`base-` layer (0 for none). */
  private def seqOf(layer: Option[File]): Int =
    layer.map(_.getName.split('-')(1).toInt).getOrElse(0)

  /** Installed (marker-complete) delta segments under `p` with the
    * given name prefix, name-ordered. Names are content keys, so the
    * order is deterministic but semantically irrelevant — segments are
    * id-disjoint by the writers' guards.
    */
  private def segmentDirs(p: String, prefix: String): Seq[File] =
    Option(new File(s"$p/deltas").listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith(prefix) &&
        new File(f, "_SUCCESS").isFile)
      .sortBy(_.getName)

  /** The lines of a layer's `consumed.txt`/`gens.txt` (empty if none). */
  private def linesOf(dir: Option[File], name: String): Set[String] =
    dir match {
      case None => Set.empty
      case Some(g) =>
        val f = new File(g, name)
        if (!f.isFile) Set.empty
        else {
          val src = scala.io.Source.fromFile(f, "UTF-8")
          try src.getLines().map(_.trim).filter(_.nonEmpty).toSet
          finally src.close()
        }
    }

  /** A table dir written by a layer, present only when it holds data
    * (an empty fold writes no files — Spark skips empty partitions —
    * so presence IS the non-empty flag).
    */
  def tableIfPresent(layer: Option[File], table: String): Option[File] =
    layer.map(g => new File(g, table)).filter(t =>
      t.isDirectory && Option(t.listFiles()).exists(_.exists(f =>
        f.getName.endsWith(".parquet"))))

  /** [[tableIfPresent]] for PARTITIONED layer tables: true iff any
    * parquet file exists anywhere under `dir` (a `partitionBy` write of
    * zero rows leaves only a `_SUCCESS`, and reading it would fail
    * schema inference — callers substitute an empty frame instead).
    */
  def hasParquet(dir: File): Boolean =
    (dir.isFile && dir.getName.endsWith(".parquet")) ||
      (dir.isDirectory && Option(dir.listFiles()).toSeq.flatten
        .filterNot(_.getName.startsWith("_")).exists(hasParquet))

  /** One atomic snapshot of a store's composition, read ONCE per
    * serve/DML entry and passed down (re-reading per helper would let
    * a racing fold yield a MIXED view, e.g. an old segment list
    * anti-joined with a new generation's carried tombstones):
    *
    *  - `base`: the newest rebase base (None = the root tables);
    *  - `gen`: the newest generation UNLESS the base subsumes it (its
    *    tables are already folded into the base);
    *  - `rawGen`: the unfiltered pointer — sequence numbering and name
    *    salting must advance past subsumed generations too;
    *  - `consumed`: every segment name folded into base and/or gen;
    *  - `adds`/`dels`: the installed add and tombstone segments not
    *    yet folded.
    *
    * A gen+adds store has no base and no dels. Any interleaving with a
    * racing rebase lands on a data-identical composition: a rebase is
    * content-neutral, and the subsumption filter excludes a folded
    * generation whenever its base is visible.
    */
  final case class DeltaView(base: Option[File], gen: Option[File],
      rawGen: Option[File], consumed: Set[String],
      adds: Seq[File], dels: Seq[File]) {
    /** True when serving composes exactly the root tables — the
      * bit-stability fast path for oracle-pinned readers. */
    def baseOnly: Boolean =
      base.isEmpty && gen.isEmpty && adds.isEmpty && dels.isEmpty
    /** Layer roots newest-last: generation (if any) then unconsumed
      * adds — the dirs a serve unions on top of the bottom layer, and
      * the inputs of the next fold. */
    def overlays: Seq[File] = gen.toSeq ++ adds
    /** One table's dirs across base, generation and unconsumed adds,
      * where present — the DML-added rows of a table whose root is
      * external (a corpus parquet). */
    def tables(table: String): Seq[File] =
      (base.toSeq ++ overlays).map(new File(_, table)).filter(hasParquet)
    /** A new `add`/`del` segment's name: `<kind>-<key>`, salted to
      * `<kind>-g<seq>-<key>` when a fold already consumed the plain
      * name — the same content written again after a fold (a re-add
      * of tombstoned-away rows, a re-removal of re-added ids) must
      * not hide behind the consumed name. */
    def segmentName(kind: String, key: String): String =
      if (consumed.contains(s"$kind-$key")) s"$kind-g${seqOf(rawGen)}-$key"
      else s"$kind-$key"
  }

  def deltaView(p: String): DeltaView = {
    val base = newest(p, "base")
    val subsumed = linesOf(base, "gens.txt")
    val rawGen = newest(p, "gen")
    val gen = rawGen.filterNot(g => subsumed.contains(g.getName))
    val consumed = linesOf(base, "consumed.txt") ++ linesOf(gen, "consumed.txt")
    def unconsumed(prefix: String): Seq[File] =
      segmentDirs(p, prefix).filterNot(f => consumed.contains(f.getName))
    DeltaView(base, gen, rawGen, consumed, unconsumed("add-"), unconsumed("del-"))
  }

  /** Install the next layer of `kind` ("gen" or "base") after `prev`:
    * `write` fills the staging dir, then each ledger file is written,
    * and the staged-rename [[ensure]] publishes the layer. The name is
    * `<kind>s/<kind>-<seq of prev + 1>-<md5 of keyLines, 12 hex>`.
    */
  private def installLayer(p: String, kind: String, prev: Option[File],
      keyLines: Seq[String], ledgers: Seq[(String, Seq[String])])(
      write: String => Unit): Boolean = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(keyLines.mkString("|").getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    ensure(new File(f"$p/${kind}s/$kind-${seqOf(prev) + 1}%05d-$key")) { staging =>
      write(staging.getAbsolutePath)
      staging.mkdirs()
      ledgers.foreach { case (name, lines) => writeLines(new File(staging, name), lines) }
    }
  }

  /** Fold the current generation and every unconsumed segment into ONE
    * new generation, sized to the DML'd rows, never the root tables.
    * `fold` receives the snapshot it must fold and the staging root;
    * `consumed.txt` records the cumulative segment names subsumed.
    * Nothing is deleted (a reader racing the fold serves either view,
    * identical by construction). Returns true iff THIS call installed
    * a generation (false = nothing unconsumed, or lost the race).
    */
  private[operators] def compactStore(p: String)(
      fold: (DeltaView, String) => Unit): Boolean = {
    val v = deltaView(p)
    val segs = v.adds ++ v.dels
    if (segs.isEmpty) return false
    val consumed = (v.consumed ++ segs.map(_.getName)).toSeq.sorted
    installLayer(p, "gen", v.rawGen, consumed,
      Seq("consumed.txt" -> consumed))(fold(v, _))
  }

  /** FULL compaction of a layered store into a NEW base: `fold` writes
    * the entire live view (root-or-base ∪ generation ∪ unconsumed
    * segments, tombstones applied), which serving then resolves
    * INSTEAD of the root derived tables. `consumed.txt` lists every
    * segment folded in, `gens.txt` every generation subsumed — such a
    * generation never re-enters a composition that sees the base.
    * Nothing is deleted. Returns true iff THIS call installed a base.
    */
  private[operators] def rebaseStore(p: String)(
      fold: (DeltaView, String) => Unit): Boolean = {
    val v = deltaView(p)
    val segs = v.adds ++ v.dels
    // nothing beyond the current bottom layer → nothing to fold
    if (v.gen.isEmpty && segs.isEmpty) return false
    val consumed = (v.consumed ++ segs.map(_.getName)).toSeq.sorted
    val gens = (linesOf(v.base, "gens.txt") ++ v.rawGen.map(_.getName))
      .toSeq.sorted
    installLayer(p, "base", v.base, consumed ++ gens,
      Seq("consumed.txt" -> consumed, "gens.txt" -> gens))(fold(v, _))
  }

  /** The bounded-segment trigger (the WAL's `walMaxSegments` pattern)
    * every store runs after a DML install: fold once the unconsumed
    * segment count exceeds `maxSegments`
    * ([[graft.config.Tuning.storeMaxSegments]]), so a long-lived
    * store's per-serve union list stays bounded without operator
    * intervention. Folding deletes nothing.
    */
  private[operators] def maybeCompact(p: String, maxSegments: Int)(
      compact: => Unit): Unit = {
    val v = deltaView(p)
    if (v.adds.length + v.dels.length > maxSegments) compact
  }

  /** Space reclamation, for a maintenance window only (safe iff no
    * reader holds an older view open). Deletes the segments the
    * snapshot has consumed, every generation older than the newest or
    * subsumed by the newest base, and every base older than the
    * newest. Safe because each fold's `consumed.txt` is cumulative and
    * its data subsumes the layers it replaced: a vacuumed batch's
    * replay still no-ops off the surviving `consumed.txt`. Returns the
    * number of dirs removed.
    */
  def vacuumStore(p: String): Int = {
    val v = deltaView(p)
    val subsumed = linesOf(v.base, "gens.txt")
    def superseded(kind: String, newest: Option[File]): Seq[File] =
      Option(new File(s"$p/${kind}s").listFiles()).toSeq.flatten
        .filter(f => f.getName.startsWith(s"$kind-") &&
          (newest.exists(f.getName < _.getName) || subsumed.contains(f.getName)))
    val dead = (segmentDirs(p, "add-") ++ segmentDirs(p, "del-"))
      .filter(f => v.consumed.contains(f.getName)) ++
      superseded("gen", v.rawGen) ++ superseded("base", v.base)
    dead.foreach(deleteTree)
    dead.length
  }

  // ------------------------------------------------------------------
  // Layer composition.
  // ------------------------------------------------------------------

  /** Union of one table across layer roots, skipping layers where the
    * table is absent-or-empty (a `partitionBy` write of zero rows
    * leaves no readable files). None iff no layer holds it.
    */
  private[operators] def layerUnion(s: SparkSession,
      roots: Seq[String], table: String): Option[DataFrame] = {
    val dirs = roots.map(r => new File(r, table)).filter(hasParquet)
    if (dirs.isEmpty) None
    else Some(dirs.map(f => s.read.parquet(f.getAbsolutePath))
      .reduce(_ unionByName _))
  }

  /** `bottom layer ∪ generation ∪ unconsumed add segments` for one
    * table of a layered store — the union behind every live view.
    * `root` is the root-table scan. `baseReplacesRoot` picks the
    * bottom layer when a rebase base exists: a DERIVED table is fully
    * folded into the base, which REPLACES the root scan (an absent base
    * table means the fold was empty, zero rows — falling back to the
    * root would resurrect the store); a table whose root is an external
    * corpus parquet is only EXTENDED by the base's DML-added rows.
    */
  private[operators] def withLayers(s: SparkSession, v: DeltaView,
      root: DataFrame, table: String, baseReplacesRoot: Boolean): DataFrame = {
    def read(f: File): DataFrame = s.read.parquet(f.getAbsolutePath)
    val baseTable = tableIfPresent(v.base, table).map(read)
    val bottom =
      if (baseReplacesRoot && v.base.nonEmpty) baseTable.getOrElse(root.limit(0))
      else baseTable.fold(root)(root.unionByName(_))
    (tableIfPresent(v.gen, table).map(read).toSeq ++
      v.adds.map(dir => read(new File(dir, table))))
      .foldLeft(bottom)(_ unionByName _)
  }

  /** All LIVE tombstoned ids of a layered store as one id column: the
    * base's and the generation's carried `tombstones` (where the store
    * writes them) and the unconsumed `del-` segments' `ids`. None when
    * there are none — the common case, which spares every serve the
    * anti-join.
    */
  private[operators] def liveTombstones(s: SparkSession,
      v: DeltaView): Option[DataFrame] =
    ((v.base.toSeq ++ v.gen).flatMap(l => tableIfPresent(Some(l), "tombstones")) ++
      v.dels.map(new File(_, "ids")))
      .map(f => s.read.parquet(f.getAbsolutePath))
      .reduceOption(_ unionByName _)

  /** `df` without the rows whose `idCol` is a live tombstone (`ts`, one
    * id column, from [[liveTombstones]]).
    */
  private[operators] def minusTombstones(df: DataFrame,
      ts: Option[DataFrame], idCol: String): DataFrame =
    ts.fold(df)(t => df.join(
      org.apache.spark.sql.functions.broadcast(t.toDF(idCol)), Seq(idCol), "left_anti"))

  // ------------------------------------------------------------------
  // The gen+adds DML recipe: every such store composes the SAME
  // segment arithmetic instead of re-deriving it.
  // ------------------------------------------------------------------

  /** Content key + envelope of a normalized `(doc_id, <payload>)`
    * batch: ONE aggregate pass derives an order-independent 128-bit
    * key (a NULL payload hashed through an explicit is-null flag), the
    * id envelope for the prunable conflict scan, and the batch size.
    * None for an empty batch; duplicate in-batch ids fail loudly.
    * `payload`/`empty` parameterize the column name and its typed
    * empty literal (the text stores pass the defaults; the media lake
    * hashes `blob` with a binary empty).
    */
  private[operators] def batchKey(norm: DataFrame, op: String,
      payload: String = "text", empty: String = "''")
      : Option[(String, Long, Long, Long)] = {
    val st = norm.selectExpr(
      "count(1) as cnt", "count(distinct doc_id) as dcnt",
      "min(doc_id) as lo", "max(doc_id) as hi",
      s"bit_xor(xxhash64(doc_id, isnull($payload), coalesce($payload, $empty))) as h1",
      s"bit_xor(xxhash64(coalesce($payload, $empty), isnull($payload), doc_id)) as h2").head()
    val cnt = st.getAs[Long]("cnt")
    if (cnt == 0L) None
    else {
      require(st.getAs[Long]("dcnt") == cnt,
        s"$op: duplicate doc_id within the batch")
      Some((f"${st.getAs[Long]("h1")}%016x${st.getAs[Long]("h2")}%016x",
        st.getAs[Long]("lo"), st.getAs[Long]("hi"), cnt))
    }
  }

  /** The complete add-segment orchestration of the gen+adds stores:
    * normalize + persist the batch, derive its content key, no-op on
    * consumed/installed replays, run the id guard against the layers'
    * `idTable`, install the layer via the staged rename (the layer
    * writer receives the normalized batch, the staging root, and a
    * batch-proportional file count), bump the store's observability
    * counter, and auto-fold past `maxSegments`.
    */
  private[operators] def dmlAdd(s: SparkSession,
      p: String, docs: DataFrame, op: String,
      maxSegments: Int,
      counter: java.util.concurrent.atomic.AtomicInteger,
      payloadCol: String = "text", payloadType: String = "string",
      idTable: String = "docs")(
      writeLayer: (DataFrame, String, Int) => Unit)(
      compact: () => Unit): Boolean = {
    val empty = if (payloadType == "binary") "cast('' as binary)" else "''"
    val norm = docs.selectExpr(
        "cast(doc_id as bigint) as doc_id",
        s"cast($payloadCol as $payloadType) as $payloadCol")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      batchKey(norm, op, payloadCol, empty) match {
        case None => false
        case Some((key, lo, hi, cnt)) =>
          // the retry no-op precedes the id guard: a re-sent batch
          // carries already-indexed ids by definition. Consumed names
          // first — a vacuumed segment's bytes live on in its
          // generation, so its replay must still no-op
          if (deltaView(p).consumed.contains(s"add-$key")) return false
          val target = new File(s"$p/deltas/add-$key")
          if (new File(target, "_SUCCESS").isFile) return false
          guardIds(s, p, idTable, norm, lo, hi, cnt, op)
          val nFiles =
            math.min(64L, math.max(1L, (cnt + 65535L) / 65536L)).toInt
          val installed = ensure(target) { staging =>
            writeLayer(norm, staging.getAbsolutePath, nFiles)
          }
          if (installed) {
            counter.incrementAndGet()
            maybeCompact(p, maxSegments)(compact())
          }
          installed
      }
    } finally { norm.unpersist(); () }
  }

  /** The id-conflict guard of [[dmlAdd]]: ids the lake already holds
    * (root ∪ generation ∪ unconsumed segments, each layer's `table`)
    * intersected with the batch, pruned to the batch's [lo, hi]
    * envelope so the scan is parquet-stats-prunable. Fails loudly on
    * conflict; driver memory held is ≤ 8 ids.
    */
  private def guardIds(s: SparkSession, p: String, table: String,
      norm: DataFrame, lo: Long, hi: Long, cnt: Long, op: String): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val taken = (p +: deltaView(p).overlays.map(_.getAbsolutePath))
      .map(r => new File(r, table)).filter(hasParquet)
      .map(f => s.read.parquet(f.getAbsolutePath).select(col("doc_id")))
      .reduce(_ unionByName _) // the root always writes the table
      .filter(col("doc_id").between(lo, hi))
    val idsDf = norm.select(col("doc_id"))
    val probe = if (cnt <= 1000000L) broadcast(idsDf) else idsDf
    import s.implicits._
    val dup = taken.join(probe, "doc_id").select(col("doc_id")).distinct()
      .orderBy(col("doc_id")).limit(8).as[Long].collect()
    require(dup.isEmpty,
      s"$op: doc ids already indexed (already in the lake): ${dup.mkString(", ")}")
  }
}
