package graft.operators

import graft.SparkTestBase
import graft.config.Tuning
import org.apache.spark.sql.functions._

/** The stored corpus LM + served surprisal ([[TextOps.ensureLm]] /
  * [[TextOps.serveSurprisal]]): Laplace values hand-computed against a
  * tiny corpus, the OOV ceiling, zero-token NULLs, and build-once
  * replay through the artifact counter.
  */
class ServeSurprisalSpec extends SparkTestBase {
  private def writeCorpus(root: String, docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val d = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get(root), "corpus").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("web"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$d/documents.parquet")
    d
  }

  test("Laplace-smoothed values are exact; OOV scores the ceiling; empty is NULL") {
    withTempRoot {
      withTempDir("graft-lm") { tmp =>
        import spark.implicits._
        // corpus: a=3, b=1 → T=4, V=2, denom = 7
        val dir = writeCorpus(tmp, Seq((0L, "a a a"), (1L, "b")))
        val out = new TextOps(Tuning()).serveSurprisal(spark, dir, Seq(
            (10L, "a"), (11L, "zz"), (12L, "a zz"), (13L, ""))
          .toDF("id", "text"))
          .select($"id", $"n_tokens", $"nats")
          .collect().map(r => r.getLong(0) ->
            (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))
          .toMap
        def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
        val pa = -math.log(4.0 / 7.0)  // (3+1)/7
        val poov = -math.log(1.0 / 7.0) // (0+1)/7 — the OOV ceiling
        assert(out(10L) == (1L, Some(r6(pa))))
        assert(out(11L) == (1L, Some(r6(poov))))
        assert(out(12L) == (2L, Some(r6((pa + poov) / 2))))
        assert(out(13L) == (0L, None))
        // OOV is the MAXIMAL defined surprisal: above every seen token
        assert(poov > pa)
      }
    }
  }

  test("order 2: hand-computed interpolation; scrambled text pays the transition penalty") {
    withTempRoot {
      withTempDir("graft-lm") { tmp =>
        import spark.implicits._
        // corpus: "a b" ×3 → unigrams a=3, b=3 (T=6, V=2, denom=9);
        // bigrams: (a,b)=3 — cnt(a)=3 so P(b|a)=1; (b,a) unseen
        val dir = writeCorpus(tmp, Seq((0L, "a b"), (1L, "a b"), (2L, "a b")))
        val ops2 = new TextOps(Tuning()) // λ = 0.7
        val out = ops2.serveSurprisal(spark, dir, Seq(
            (10L, "a b"),   // natural order
            (11L, "b a"),   // scrambled: same unigrams, unseen transition
            (12L, "zz a"))  // OOV prev → pure unigram floor on 'a'
          .toDF("id", "text"), order = 2)
          .collect().map(r => r.getLong(0) ->
            (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))
          .toMap
        def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
        val lam = 0.7
        val p1a = 4.0 / 9.0; val p1b = 4.0 / 9.0; val p1oov = 1.0 / 9.0
        // "a b": pos0 = P1(a); pos1 = λ·(3/3) + (1−λ)·P1(b)
        val natAB = (-math.log(p1a) + -math.log(lam * 1.0 + (1.0 - lam) * p1b)) / 2
        // "b a": pos0 = P1(b); pos1 = λ·0 + (1−λ)·P1(a)
        val natBA = (-math.log(p1b) + -math.log(lam * 0.0 + (1.0 - lam) * p1a)) / 2
        // "zz a": pos0 = P1(zz); pos1: prev OOV → bterm 0
        val natZA = (-math.log(p1oov) + -math.log(lam * 0.0 + (1.0 - lam) * p1a)) / 2
        assert(out(10L) == (2L, Some(r6(natAB))))
        assert(out(11L) == (2L, Some(r6(natBA))))
        assert(out(12L) == (2L, Some(r6(natZA))))
        // the word-order signal order 1 cannot see: scrambled > natural
        assert(natBA > natAB)
        // and order 1 scores both orders IDENTICALLY (the blindness)
        val o1 = ops2.serveSurprisal(spark, dir,
          Seq((10L, "a b"), (11L, "b a")).toDF("id", "text"))
          .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
        assert(o1(10L) == o1(11L))
      }
    }
  }

  test("order 3: hand-computed stupid backoff hits all three routes") {
    withTempRoot {
      withTempDir("graft-lm") { tmp =>
        import spark.implicits._
        // corpus: "a b c" ×2, "a b d" → unigrams a=3,b=3,c=2,d=1
        // (T=9, V=4, denom=14); bigrams (a,b)=3,(b,c)=2,(b,d)=1;
        // trigrams (a,b,c)=2,(a,b,d)=1
        val dir = writeCorpus(tmp, Seq((0L, "a b c"), (1L, "a b c"), (2L, "a b d")))
        val out = new TextOps(Tuning()).serveSurprisal(spark, dir, Seq(
            (10L, "a b c"),  // pos2: trigram route — t(a,b,c)/b(a,b)
            (11L, "c b d"),  // pos2: bigram backoff — α·(b(b,d)/c(b))
            (12L, "a b b"),  // pos2: unigram floor — α²·P1(b)
            (13L, "")).toDF("id", "text"), order = 3)
          .collect().map(r => r.getLong(0) ->
            (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))
          .toMap
        def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
        val lam = 0.7; val alpha = 0.4
        val p1a = 4.0 / 14.0; val p1b = 4.0 / 14.0; val p1c = 3.0 / 14.0
        // shared pos-0/pos-1 prefix of all three probes' scoring
        def pos1(bterm: Double, p1: Double) = lam * bterm + (1.0 - lam) * p1
        val n10 = (-math.log(p1a) + -math.log(pos1(3.0 / 3.0, p1b)) +
          -math.log(2.0 / 3.0)) / 3
        val n11 = (-math.log(p1c) + -math.log(pos1(0.0, p1b)) +
          -math.log(alpha * (1.0 / 3.0))) / 3
        val n12 = (-math.log(p1a) + -math.log(pos1(3.0 / 3.0, p1b)) +
          -math.log(alpha * alpha * p1b)) / 3
        assert(out(10L) == (3L, Some(r6(n10))))
        assert(out(11L) == (3L, Some(r6(n11))))
        assert(out(12L) == (3L, Some(r6(n12))))
        assert(out(13L) == (0L, None))
        // the order the backoff exists for: an unseen TRIPLE of seen
        // pairs costs more than the attested triple
        assert(n12 > n10)
      }
    }
  }

  test("order 5: every backoff route at position 4, derived from prefix deltas") {
    withTempRoot {
      withTempDir("graft-lm") { tmp =>
        import spark.implicits._
        // corpus: "a b c d e" ×2, "a b c d f" → unigrams a,b,c,d = 3,
        // e = 2, f = 1 (T = 15, V = 6, denom = 22); 4-grams
        // (a,b,c,d) = 3, (b,c,d,e) = 2; 5-grams (a,b,c,d,e) = 2;
        // trigram (c,d,e) = 2 over bigram (c,d) = 3; bigram (d,e) = 2
        // over unigram d = 3
        val dir = writeCorpus(tmp, Seq(
          (0L, "a b c d e"), (1L, "a b c d e"), (2L, "a b c d f")))
        val alpha = 0.4
        // (4-token prefix, 5th token, expected pos-4 route probability):
        // scoring at position i depends only on the preceding tokens, so
        // 5·nats(prefix+tok) − 4·nats(prefix) isolates the pos-4 term
        val cases = Seq(
          ("a b c d", "e", 2.0 / 3.0),                        // 5-gram
          ("f b c d", "e", alpha * (2.0 / 3.0)),              // α·4-gram
          ("a a c d", "e", alpha * alpha * (2.0 / 3.0)),      // α²·trigram
          ("a a a d", "e", alpha * alpha * alpha * (2.0 / 3.0)), // α³·bigram
          ("a a a a", "e",
            alpha * alpha * alpha * alpha * (3.0 / 22.0)))    // α⁴·P₁
        val probes = cases.zipWithIndex.flatMap { case ((pre, tok, _), i) =>
          Seq((i * 2L, pre), (i * 2L + 1L, s"$pre $tok")) }
        val out = new TextOps(Tuning())
          .serveSurprisal(spark, dir, probes.toDF("id", "text"), order = 5)
          .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
        for ((((_, _, route), i)) <- cases.zipWithIndex) {
          val contrib = 5 * out(i * 2L + 1L) - 4 * out(i * 2L)
          assert(math.abs(contrib - (-math.log(route))) < 2e-5,
            s"route $i: got $contrib, want ${-math.log(route)}")
        }
        // a probe too short to form a 5-gram scores IDENTICALLY at
        // orders 4 and 5 (the positional-prefix property), and a
        // 3-token probe identically at orders 3, 4, and 5
        val shorts = Seq((100L, "a b c d"), (101L, "a b c")).toDF("id", "text")
        def m(o: Int) = new TextOps(Tuning())
          .serveSurprisal(spark, dir, shorts, order = o)
          .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
        val (m3, m4, m5) = (m(3), m(4), m(5))
        assert(m4(100L) == m5(100L))
        assert(m3(101L) == m4(101L) && m4(101L) == m5(101L))
      }
    }
  }

  test("a past-the-collect-cap probe batch serves through the distributed fallback") {
    withTempRoot {
      withTempDir("graft-lm") { tmp =>
        import spark.implicits._
        val dir = writeCorpus(tmp, Seq(
          (0L, "a b c d e"), (1L, "a b c d e"), (2L, "a b c d f")))
        // 20k probe docs with > 4096 distinct prev tokens: the collected
        // prune list overflows, so every n-gram table takes the
        // distributed semi-join fallback — and the serve's only
        // materialized frame stays the PROBE-sized one (the large-probe
        // localCheckpoint audit; the m-decade twin is the
        // `Probe serve` bigsurp3 cell). Generated executor-side: the batch never
        // touches the driver.
        val probe = spark.range(20000)
          .selectExpr("id", "concat('w', id % 8000, ' a b c d e') AS text")
        val out = new TextOps(Tuning())
          .serveSurprisal(spark, dir, probe, order = 5)
        val rows = out.collect()
        assert(rows.length == 20000)
        assert(rows.forall(r => r.getLong(1) == 6L && !r.isNullAt(2)))
        // every probe shares the tail "a b c d e"; its surprisal varies
        // only through the OOV head token — one distinct score
        assert(rows.map(_.getDouble(2)).distinct.length == 1)
      }
    }
  }

  test("order 2 over a corpus with NO bigrams (all 1-token docs) serves, not throws") {
    withTempRoot {
      withTempDir("graft-lm") { tmp =>
        import spark.implicits._
        // every doc is a single token → the bigrams layer is written with
        // ZERO rows (a partitionBy dir holding only _SUCCESS); order-2
        // serving must substitute the empty frame, not fail schema
        // inference. Unigrams: a=2, b=1 → T=3, V=2, denom=6.
        val dir = writeCorpus(tmp, Seq((0L, "a"), (1L, "b"), (2L, "a")))
        val out = new TextOps(Tuning()).serveSurprisal(spark, dir, Seq(
            (10L, "a b"), (11L, "")).toDF("id", "text"), order = 2)
          .collect().map(r => r.getLong(0) ->
            (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))
          .toMap
        def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
        val lam = 0.7
        val p1a = 3.0 / 6.0; val p1b = 2.0 / 6.0
        // pos0 = P1(a); pos1: prev 'a' is in-vocab but (a,b) unseen →
        // bterm = 0 → p = (1−λ)·P1(b)
        val expected = (-math.log(p1a) + -math.log(lam * 0.0 + (1.0 - lam) * p1b)) / 2
        assert(out(10L) == (2L, Some(r6(expected))))
        assert(out(11L) == (0L, None))
      }
    }
  }

  test("the LM builds once; replays and fresh sessions reuse the artifact") {
    withTempRoot {
      withTempDir("graft-lm") { tmp =>
        import spark.implicits._
        val dir = writeCorpus(tmp, Seq((0L, "x y z"), (1L, "x x")))
        val ops = new TextOps(Tuning())
        val before = TextOps.lmBuilds.get()
        val probe = Seq((1L, "x")).toDF("id", "text")
        val first = ops.serveSurprisal(spark, dir, probe).collect()
        assert(TextOps.lmBuilds.get() == before + 1)
        // same instance AND a fresh instance find the disk marker: no-op
        ops.serveSurprisal(spark, dir, probe).collect()
        val again = new TextOps(Tuning()).serveSurprisal(spark, dir, probe)
          .collect()
        assert(TextOps.lmBuilds.get() == before + 1)
        assert(first.map(_.toString).toSeq == again.map(_.toString).toSeq)
      }
    }
  }
}
