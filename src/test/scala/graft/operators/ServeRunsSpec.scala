package graft.operators

import graft.SparkTestBase
import graft.config.Tuning
import org.apache.spark.sql.functions._

/** The served exact-substring face ([[Search.serveRuns]]): an incoming
  * batch's shared-run report against the STORED window-hash postings
  * must equal q86's corpus-wide self-join on a corpus-replay batch
  * (the q72 serve ≡ batch pattern), external probes must surface their
  * copied spans, the artifact must build once and replay, and
  * self-pairs must never appear.
  */
class ServeRunsSpec extends SparkTestBase {

  private val knobs = Tuning(runMinTokens = 9)

  // a 10-token span shared by docs 0 and 1 (reportable at minTokens 9),
  // an 8-token span shared by docs 0 and 3 (observable but BELOW the
  // threshold), and an unrelated doc 2
  private val span10 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val span8 = "one two three four five six seven eight"

  private lazy val dir: String = {
    import spark.implicits._
    val d = suiteTempDir("graft-serveruns-corpus")
    Seq(
      (0L, s"$span10 filler words here $span8", "en", "web"),
      (1L, s"prefix tokens then $span10 and a tail", "en", "web"),
      (2L, "an entirely unrelated document with its own words", "en", "web"),
      (3L, s"$span8 padding padding padding padding padding padding padding padding", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$d/documents.parquet")
    d
  }

  private def collectReport(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getAs[Long]("max_run_tokens"), r.getAs[Long]("n_aligned"))).toSeq

  test("serve ≡ q86 on a corpus-replay batch; self-pairs excluded; artifact builds once") {
    withTempRoot {
      import spark.implicits._
      val search = new Search(knobs)
      val q86 = search.all.find(_.name == "q86_substring_runs").get
      val expected = collectReport(q86.spark(spark, dir))
      assert(expected.nonEmpty, "fixture must produce a reportable run")
      assert(expected.exists(_._3 == 10L), "the 10-token span reports")

      val builds0 = Search.runsBuilds.get()
      val replay = spark.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id".as("id"), $"text")
      val served = search.serveRuns(spark, dir, replay)
      // no self-pairs ever
      assert(served.filter($"probe_id" === $"doc_id").count() == 0)
      // directional report folded to unordered pairs ≡ q86
      val folded = collectReport(
        served.filter($"probe_id" < $"doc_id")
          .orderBy($"probe_id", $"doc_id"))
      assert(folded == expected)
      // …and the mirrored direction carries the same runs
      val mirrored = collectReport(
        served.filter($"probe_id" > $"doc_id")
          .select($"doc_id", $"probe_id", $"max_run_tokens", $"n_aligned")
          .orderBy($"doc_id", $"probe_id"))
      assert(mirrored == expected)
      assert(Search.runsBuilds.get() == builds0 + 1)
      // a second serve replays the stored artifact
      search.serveRuns(spark, dir, replay.limit(1)).collect()
      assert(Search.runsBuilds.get() == builds0 + 1)
    }
  }

  test("an external probe surfaces its copied span; thresholds hold") {
    withTempRoot {
      import spark.implicits._
      val search = new Search(knobs)
      val probes = Seq(
        (900001L, s"a brand new document quoting $span10 verbatim"),
        (900002L, s"this one lifts only $span8 from the corpus"),
        (900003L, "nothing shared with anything at all"))
        .toDF("id", "text")
      val got = search.serveRuns(spark, dir, probes)
        .collect().map(r => (r.getAs[Long]("probe_id"),
          r.getAs[Long]("doc_id"), r.getAs[Long]("max_run_tokens"))).toSeq
      // the 10-token quote hits BOTH corpus carriers of the span
      assert(got.filter(_._1 == 900001L).map(g => (g._2, g._3)).toSet ==
        Set((0L, 10L), (1L, 10L)))
      // the 8-token lift is observable but below minTokens 9
      assert(!got.exists(_._1 == 900002L))
      assert(!got.exists(_._1 == 900003L))
      // …and serves at a lower explicit threshold
      val low = search.serveRuns(spark, dir, probes, minTokens = 8)
        .collect().map(r => (r.getAs[Long]("probe_id"),
          r.getAs[Long]("doc_id"), r.getAs[Long]("max_run_tokens"))).toSeq
      assert(low.filter(_._1 == 900002L).map(g => (g._2, g._3)).toSet ==
        Set((0L, 8L), (3L, 8L)))
      // a window-width floor is enforced
      intercept[IllegalArgumentException] {
        search.serveRuns(spark, dir, probes, minTokens = 7)
      }
    }
  }
}
