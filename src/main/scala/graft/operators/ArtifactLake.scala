package graft.operators

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Keyed on-disk artifact installation and the one segment-store
  * lifecycle built on it. Seven stores share it, in two shapes:
  *
  *  - gen+adds: the BM25 and runs indexes ([[Search]]), the corpus LM
  *    ([[TextOps]]), the dHash media lake ([[MediaDedup]]) and the BPE
  *    training-shard lake ([[Bpe]]). Their DML only adds.
  *  - layered: the ANN index ([[Similarity]]) and the dedup signature
  *    lake ([[Dedup]]). They also remove, carry tombstones that still
  *    shadow a bottom-layer row in each generation, and fold the whole
  *    store into rebase bases (`bases/base-%05d-<key>`) that replace
  *    the root tables.
  *
  * The DML of both shapes is [[dmlAdd]], which installs a content-keyed
  * `deltas/add-<key>` segment, and [[dmlRemove]], which installs a
  * `deltas/del-<key>` tombstone segment; a store supplies only its
  * normalization, key hashes, held ids, layer writer, counter and
  * compact. Both shapes read one snapshot ([[deltaView]]), fold into
  * `gens/gen-%05d-<key>` ([[compactStore]]), auto-fold past a segment
  * bound ([[maybeCompact]]) and reclaim space with one [[vacuumStore]].
  * Before any DML, each store root is installed by the one build-once
  * path: [[indexRoot]] for the root dir, [[keyedPath]] for the root's
  * name and [[buildOnce]] for the install and the build counter. The
  * media fixture ([[Multimodal.MediaLake]]), under [[mediaRoot]], uses
  * [[ensure]] alone. One copy of the concurrency-sensitive install
  * invariants, bug-fixed in one place:
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

  // ------------------------------------------------------------------
  // Build-once store roots. Every store installs its root at
  // `<root>/<name>-<key>[-<fp>]-v<version>` ([[keyedPath]]) through
  // [[buildOnce]]. There is no in-memory "ready" memo: each call
  // re-checks the `_SUCCESS` marker (one stat), so a root deleted
  // under a live session is rebuilt by the next call.
  // ------------------------------------------------------------------

  /** The store root: `-Dgraft.index.dir`, default
    * `<java.io.tmpdir>/graft-index`.
    */
  def indexRoot: String =
    sys.props.getOrElse("graft.index.dir", s"${sys.props("java.io.tmpdir")}/graft-index")

  /** The media fixture's root: `-Dgraft.media.dir`, default
    * `<java.io.tmpdir>/graft-media`.
    */
  def mediaRoot: String =
    sys.props.getOrElse("graft.media.dir", s"${sys.props("java.io.tmpdir")}/graft-media")

  /** The key text of a store built over source dir `d`:
    * `<canonical d>:<knobs>`.
    */
  def sourceKey(d: String, knobs: String): String =
    new File(d).getCanonicalPath + ":" + knobs

  /** A store's root path: `<root>/<name>-<first 6 bytes of md5(key),
    * hex>[-<fp>]-v<version>`. `key` must name everything the stored
    * bytes depend on, and `fp` (a [[fingerprint]], or "" for none) the
    * source files they were built from.
    */
  def keyedPath(root: String, name: String, key: String, version: Int,
      fp: String = ""): String = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    s"$root/$name-$hex${if (fp.isEmpty) "" else s"-$fp"}-v$version"
  }

  /** The [[fingerprint]] of `d`'s `documents` table. */
  def docsFingerprint(d: String): String =
    fingerprint(new File(s"$d/documents.parquet"))

  /** Install store root `p` with `build` unless it is complete on disk
    * ([[ensure]]), and bump `builds` iff this call built it. Returns
    * `p`.
    */
  def buildOnce(p: String, builds: java.util.concurrent.atomic.AtomicInteger)(
      build: File => Unit): String = {
    if (ensure(new File(p))(build)) builds.incrementAndGet()
    p
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
  // The DML recipe of all seven stores. A store supplies only what is
  // its own: its normalization, its key's hash columns, its taken-ids
  // basis, its layer writer, its counter and its compact.
  // ------------------------------------------------------------------

  /** The file count of a DML-sized write of `n` rows: one file per 64k
    * rows, at least 1, at most 64.
    */
  def segmentFiles(n: Long): Int =
    math.min(64L, math.max(1L, (n + 65535L) / 65536L)).toInt

  /** A normalized, persisted DML batch as a layer writer sees it: its
    * `rows` (id column first), id envelope [`lo`, `hi`], row count and
    * the store snapshot it is installed against.
    */
  final case class DmlBatch(rows: DataFrame, lo: Long, hi: Long,
      cnt: Long, view: DeltaView) {
    def idCol: String = rows.columns.head
    def files: Int = segmentFiles(cnt)
    /** The rows of `df` whose `idCol` is in the batch. The [lo, hi]
      * envelope is a pushable superset predicate, so parquet row-group
      * stats prune a corpus-sized scan to nothing in the common
      * fresh-ids case. The batch side is broadcast only for ≤ 1M ids:
      * beyond that a forced broadcast costs real driver heap and risks
      * the broadcast timeout, and AQE picks the strategy from actual
      * sizes instead.
      */
    def within(df: DataFrame): DataFrame = {
      import org.apache.spark.sql.functions.{broadcast, col}
      val ids = rows.select(col(idCol))
      df.filter(col(idCol).between(lo, hi))
        .join(if (cnt <= 1000000L) broadcast(ids) else ids, Seq(idCol), "left_semi")
    }
  }

  /** Content key + envelope of a normalized batch (id column first):
    * ONE aggregate pass derives an order-independent 128-bit key, the
    * id envelope and the batch size. `hashes` are the argument lists of
    * the key's two `xxhash64` halves — two differently ordered tuples of
    * the row's content, `bit_xor`-combined so any partitioning or order
    * of the same rows gives the same key (xor cannot cancel across rows:
    * ids are distinct). None for an empty batch. With `checkIds`,
    * duplicate in-batch ids fail loudly; a caller whose ids are distinct
    * by construction passes false and saves the distinct count's
    * exchange.
    */
  private def batchKey(norm: DataFrame, op: String,
      hashes: (String, String),
      checkIds: Boolean): Option[(String, Long, Long, Long)] = {
    val id = norm.columns.head
    val st = norm.selectExpr(Seq(
      "count(1) as cnt", s"min($id) as lo", s"max($id) as hi",
      s"bit_xor(xxhash64(${hashes._1})) as h1",
      s"bit_xor(xxhash64(${hashes._2})) as h2") ++
      (if (checkIds) Seq(s"count(distinct $id) as dcnt") else Nil): _*).head()
    val cnt = st.getAs[Long]("cnt")
    if (cnt == 0L) None
    else {
      require(!checkIds || st.getAs[Long]("dcnt") == cnt,
        s"$op: duplicate $id within the batch")
      Some((f"${st.getAs[Long]("h1")}%016x${st.getAs[Long]("h2")}%016x",
        st.getAs[Long]("lo"), st.getAs[Long]("hi"), cnt))
    }
  }

  /** The segment orchestration behind [[dmlAdd]] and [[dmlRemove]]:
    * persist the batch, derive its content key, name the `kind`
    * segment ([[DeltaView.segmentName]]), no-op when that segment is
    * installed, run the id guard when `taken` is given, install the
    * layer via the staged rename, bump the store's counter, and
    * auto-fold past `maxSegments`.
    *
    * The id guard (adds only; `taken` reads the store's held ids
    * against the snapshot): a batch whose name a fold consumed (so it
    * was epoch-salted) and whose ids are all still held or tombstoned
    * is a replay and no-ops. Otherwise any held or live-tombstoned id
    * fails loudly via `require`; driver memory held is ≤ 8 ids.
    */
  private def dml(s: SparkSession, p: String, kind: String,
      norm: DataFrame, op: String, hashes: (String, String),
      maxSegments: Int, counter: java.util.concurrent.atomic.AtomicInteger,
      taken: Option[DeltaView => DataFrame],
      writeLayer: (DmlBatch, String) => Unit, compact: () => Unit): Boolean = {
    val rows = norm.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      batchKey(rows, op, hashes, checkIds = taken.isDefined) match {
        case None => false
        case Some((key, lo, hi, cnt)) =>
          val v = deltaView(p)
          val name = v.segmentName(kind, key)
          val target = new File(s"$p/deltas/$name")
          if (new File(target, "_SUCCESS").isFile) return false
          val b = DmlBatch(rows, lo, hi, cnt, v)
          taken match {
            case None =>
            case Some(t) =>
              import s.implicits._
              val held = t(v).select(b.idCol)
              val dup = b.within(liveTombstones(s, v).fold(held)(held.unionByName(_)))
                .distinct()
              if (name != s"$kind-$key" && dup.count() == cnt) return false
              val ids = dup.orderBy(b.idCol).limit(8).as[Long].collect()
              require(ids.isEmpty,
                s"$op: ids already indexed (already in the lake): ${ids.mkString(", ")}")
          }
          val installed = ensure(target)(st => writeLayer(b, st.getAbsolutePath))
          if (installed) {
            counter.incrementAndGet()
            maybeCompact(p, maxSegments)(compact())
          }
          installed
      }
    } finally { rows.unpersist(); () }
  }

  /** The add segment of every store: `deltas/add-<key>`, epoch-salted
    * when a fold already consumed the plain name. `norm` is the
    * store-normalized batch, id column first. The retry no-op precedes
    * the id guard, since a re-sent batch carries already-indexed ids
    * by definition: an installed target no-ops, and so does a folded
    * batch whose ids are all still live. A folded batch whose ids were
    * tombstoned away is a genuine re-add. Otherwise ids in `taken` (the
    * store's held ids, read against the snapshot) or in a live
    * tombstone fail loudly.
    */
  private[operators] def dmlAdd(s: SparkSession, p: String,
      norm: DataFrame, op: String, hashes: (String, String),
      maxSegments: Int, counter: java.util.concurrent.atomic.AtomicInteger)(
      taken: DeltaView => DataFrame)(
      writeLayer: (DmlBatch, String) => Unit)(
      compact: () => Unit): Boolean =
    dml(s, p, "add", norm, op, hashes, maxSegments, counter, Some(taken),
      writeLayer, compact)

  /** [[dmlAdd]] for the gen+adds stores: `(doc_id, <payloadCol>)` cast
    * to (BIGINT, `payloadType`), a NULL payload hashed through an
    * explicit is-null flag, and the held ids read off each layer's
    * `idTable` (the root always writes it).
    */
  private[operators] def dmlAddDocs(s: SparkSession,
      p: String, docs: DataFrame, op: String,
      maxSegments: Int,
      counter: java.util.concurrent.atomic.AtomicInteger,
      payloadCol: String = "text", payloadType: String = "string",
      idTable: String = "docs")(
      writeLayer: (DmlBatch, String) => Unit)(
      compact: () => Unit): Boolean = {
    val empty = if (payloadType == "binary") "cast('' as binary)" else "''"
    val payload = s"isnull($payloadCol), coalesce($payloadCol, $empty)"
    val norm = docs.selectExpr("cast(doc_id as bigint) as doc_id",
      s"cast($payloadCol as $payloadType) as $payloadCol")
    dmlAdd(s, p, norm, op, (s"doc_id, $payload",
        s"coalesce($payloadCol, $empty), isnull($payloadCol), doc_id"),
        maxSegments, counter)(v =>
      (p +: v.overlays.map(_.getAbsolutePath))
        .map(r => new File(r, idTable)).filter(hasParquet)
        .map(f => s.read.parquet(f.getAbsolutePath).select("doc_id"))
        .reduce(_ unionByName _))(writeLayer)(compact)
  }

  /** The tombstone segment of a layered store: `deltas/del-<key>/ids`,
    * the distinct non-NULL `idCol`s of `ids` cast to BIGINT,
    * epoch-salted when a fold consumed the plain name (an id re-added
    * after that fold must be removable again). Re-removing an installed
    * id set is a no-op. `writeLedger` adds the store's own tables
    * beside `ids`.
    */
  private[operators] def dmlRemove(s: SparkSession, p: String,
      ids: DataFrame, idCol: String, op: String, maxSegments: Int,
      counter: java.util.concurrent.atomic.AtomicInteger)(
      writeLedger: (DmlBatch, String) => Unit)(
      compact: () => Unit): Boolean = {
    val norm = ids.selectExpr(s"cast($idCol as bigint) as $idCol")
      .filter(s"$idCol is not null").distinct()
    dml(s, p, "del", norm, op, (idCol, s"$idCol, $idCol"), maxSegments, counter,
      None, { (b, root) =>
        b.rows.repartition(b.files).write.mode("overwrite").parquet(s"$root/ids")
        writeLedger(b, root)
      }, compact)
  }

  /** Continuous DML: `addBatch` runs on every micro-batch of `stream`
    * under `checkpoint`. A replayed micro-batch reproduces its content
    * key and no-ops, so at-least-once replay × content-keyed install is
    * effectively-once ingest.
    */
  def ingest(stream: DataFrame, checkpoint: String)(
      addBatch: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch((batch: DataFrame, _: Long) => addBatch(batch))
      .start()
}
