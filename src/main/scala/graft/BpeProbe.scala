package graft

import org.apache.spark.sql.SparkSession

/** Vocabulary-scale probe for BPE training: can the trainer reach a
  * REAL merge count (thousands, the road to a deployable tokenizer's
  * 32k) on a corpus 100× the driver's largest, in minutes?
  *
  * The trainer measured here is q82's:
  * [[graft.operators.Bpe#trainLocalMerges]] — ONE Spark job collapses
  * the corpus to its (bounded, optionally sampled) vocabulary, then
  * the driver-local incremental merge loop runs every round job-free.
  * q82 runs it at the oracle-gated `bpeMerges` rounds; this probe
  * asks for thousands, and reports the wall-clock split (corpus→vocab
  * collect vs merge loop) and the achieved merges/second.
  *
  * The corpus is [[graft.operators.SyntheticCorpus.ensureText]] — the
  * probe generator with a REALISTIC (Zipf-drawn, `vocabWords`-sized)
  * lexicon: the standard 31-word probe corpus exhausts its repeating
  * pairs after ~100 merges no matter the trainer, which would measure
  * the fixture, not the loop.
  *
  * Usage: `scripts/run.sh graft.BpeProbe [docs] [vocabWords] [merges]`
  * (default 500000 50000 1200 — docs = 100× sf0.1's corpus). Prints
  * one JSON line on stdout; verbose timing streams to stderr.
  */
object BpeProbe {

  def main(args: Array[String]): Unit = {
    val docs = if (args.length > 0) args(0).toLong else 500000L
    val vocabWords = if (args.length > 1) args(1).toInt else 50000
    val merges = if (args.length > 2) args(2).toInt else 1200

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bpe-probe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

    val g0 = System.nanoTime()
    val dir = graft.operators.SyntheticCorpus.ensureText(spark, docs, vocabWords)
    val genS = (System.nanoTime() - g0) / 1e9
    System.err.println(s"[bpe-probe] corpus $docs docs / lexicon $vocabWords at $dir (ensure ${num(genS)} s)")

    val bpe = new graft.operators.Bpe(graft.config.Tuning.current)

    // split timing: the one Spark job (vocab collapse + collect) is
    // instrumented by running the same derivation standalone first —
    // its result is discarded; trainLocalMerges re-runs it inside the
    // measured total so the reported total is the true end-to-end cost
    val v0 = System.nanoTime()
    val vocabRows = graft.Tables.spread(graft.Tables.t(spark, dir, "documents"))
      .selectExpr(s"explode(${graft.operators.Dedup.toksExpr}) AS w")
      .where("NOT contains(w, '(') AND NOT contains(w, ')')")
      .groupBy($"w").count()
      .count()
    val vocabS = (System.nanoTime() - v0) / 1e9
    System.err.println(s"[bpe-probe] vocabulary $vocabRows word types (collapse ${num(vocabS)} s)")

    val t0 = System.nanoTime()
    val trained = bpe.trainLocalMerges(spark, dir, merges)
    val trainS = (System.nanoTime() - t0) / 1e9
    System.err.println(s"[bpe-probe] trained ${trained.size}/$merges merges in ${num(trainS)} s " +
      s"(${num(trained.size / trainS)} merges/s)")

    // BOUNDED-VOCAB cells: the driver-memory contract measured.
    //  - FLOOR cell (bpeMinFreq=2): the production bound — drops the
    //    hapax tail, which on this lexicon is most of the word types.
    //  - CAP cell (bpeVocabCap=cap): the HARD bound — the collect is
    //    ≤ cap rows whatever the corpus holds.
    // What is claimed vs measured: the bound on the COLLECT is exact
    // (asserted by BpeSpec, measured here). Trajectory identity with
    // the unbounded run is NOT claimed — greedy BPE's argmax gaps on a
    // random-letter lexicon are smaller than the aggregate pair-count
    // mass even a pure hapax tail carries, so the merge SEQUENCE
    // shifts (production trainers' min_frequency has the same
    // property; HuggingFace makes no identity promise either). The
    // metric that matters for a tokenizer — and what IS measured — is
    // encoded quality: the corpus token mass produced by the bounded
    // tables vs the unbounded one (inflation ≈ 0 ⇒ the bound cost
    // nothing a training run can see), plus the merge-SET overlap.
    val cap = if (args.length > 3) args(3).toInt
              else math.max(1, vocabWords / 10)
    def boundedCell(label: String, t: graft.config.Tuning)
        : (Long, Double, Int, Int, Int, Long) = {
      val b = new graft.operators.Bpe(t)
      val v0 = System.nanoTime()
      val rows = b.trainingVocab(spark, dir).count()
      val t0 = System.nanoTime()
      val vocabS = (t0 - v0) / 1e9 // vocab pass only — captured BEFORE
                                   // train/encode so neither leaks in
      val tr = b.trainLocalMerges(spark, dir, merges)
      val s = (System.nanoTime() - t0) / 1e9
      val pfx = trained.zip(tr).takeWhile { case (a, b) => a == b }.size
      val ruleSet = trained.map(m => (m._2, m._3, m._4)).toSet
      val overlap = tr.count(m => ruleSet((m._2, m._3, m._4)))
      val toks = b.tokenizeWith(spark,
          graft.Tables.t(spark, dir, "documents")
            .selectExpr("doc_id AS id", "text"), tr)
        .selectExpr("sum(n_tokens)").collect()(0).getLong(0)
      System.err.println(s"[bpe-probe] $label: collect $rows rows (vs " +
        s"$vocabRows unbounded), trained ${tr.size} merges in ${num(s)} s, " +
        s"prefix/set overlap with unbounded: $pfx/$overlap of " +
        s"${trained.size}, corpus encodes to $toks tokens" +
        s" (vocab ${num(vocabS)} s)")
      (rows, s, tr.size, pfx, overlap, toks)
    }
    val base = graft.config.Tuning.current
    val (flRows, flTrainS, flMerges, flPfx, flOv, flToks) =
      boundedCell("floored(minFreq=2)", base.copy(bpeMinFreq = 2))
    val (cpRows, cpTrainS, cpMerges, cpPfx, cpOv, cpToks) =
      boundedCell(s"capped(minFreq=2, cap=$cap)",
        base.copy(bpeMinFreq = 2, bpeVocabCap = cap))

    // ENCODE the whole corpus with the deep table — the other half of
    // the real-vocabulary story: tokenizeWith's rank-heap encoder
    // applied distributed (the nested-replace chain cannot express
    // this depth). Aggregated to force full evaluation.
    val e0 = System.nanoTime()
    val enc = bpe.tokenizeWith(spark,
        graft.Tables.t(spark, dir, "documents")
          .selectExpr("doc_id AS id", "text"), trained)
      .selectExpr("count(*) AS docs", "sum(n_tokens) AS toks")
      .collect()(0)
    val encS = (System.nanoTime() - e0) / 1e9
    val (encDocs, encToks) = (enc.getLong(0), enc.getLong(1))
    System.err.println(s"[bpe-probe] encoded $encDocs docs / $encToks tokens " +
      s"with the ${trained.size}-merge table in ${num(encS)} s " +
      s"(${num(encDocs / encS)} docs/s)")

    // SHIP the deep tokenizer's shards — the terminal artifact at real
    // vocabulary depth (vocab/manifest/data lake through ArtifactLake)
    val s0 = System.nanoTime()
    val shardPath = bpe.ensureShardsFor(spark, dir, trained)
    val shardS = (System.nanoTime() - s0) / 1e9
    val shardToks = spark.read.parquet(s"$shardPath/manifest")
      .selectExpr("sum(n_tokens)").collect()(0).getLong(0)
    System.err.println(s"[bpe-probe] deep shard lake built in ${num(shardS)} s " +
      s"($shardToks tokens at $shardPath)")

    try spark.stop() catch { case _: Exception => }

    println(
      s"""{"metric":"bpe_probe","docs":$docs,"lexicon":$vocabWords,""" +
        s""""vocab_word_types":$vocabRows,"merges_requested":$merges,""" +
        s""""merges_trained":${trained.size},"corpus_ensure_s":${num(genS)},""" +
        s""""vocab_collapse_s":${num(vocabS)},"train_total_s":${num(trainS)},""" +
        s""""merges_per_s":${num(trained.size / math.max(trainS, 1e-9))},""" +
        s""""encode_docs":$encDocs,"encode_tokens":$encToks,""" +
        s""""encode_s":${num(encS)},""" +
        s""""encode_docs_per_s":${num(encDocs / math.max(encS, 1e-9))},""" +
        s""""shard_build_s":${num(shardS)},"shard_tokens":$shardToks,""" +
        s""""floored_vocab_rows":$flRows,"floored_train_s":${num(flTrainS)},""" +
        s""""floored_merges":$flMerges,"floored_prefix_match":$flPfx,""" +
        s""""floored_merge_set_overlap":$flOv,"floored_encode_tokens":$flToks,""" +
        s""""capped_cap":$cap,"capped_vocab_rows":$cpRows,""" +
        s""""capped_train_s":${num(cpTrainS)},""" +
        s""""capped_merges":$cpMerges,"capped_prefix_match":$cpPfx,""" +
        s""""capped_merge_set_overlap":$cpOv,"capped_encode_tokens":$cpToks}""")
    System.out.flush()
  }
}
