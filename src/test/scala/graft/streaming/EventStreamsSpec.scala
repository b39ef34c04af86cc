package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Batch/stream parity for the events-tier twins: the streaming
  * operators run in BATCH execution against the real testdata and must
  * reproduce the registered batch queries' arithmetic exactly; then a
  * MemoryStream run proves the same code works as a genuine stream
  * (state across micro-batches, watermark-closed sessions).
  */
class EventStreamsSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  test("AsOfStream in batch execution == AsOfJoin on real events") {
    import spark.implicits._
    val e = graft.Tables.t(spark, sf, "events")
    val clicks = e.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"event_id")
    val errors = e.filter($"event_type" === "error")
      .select($"user_id", $"ts")
    val batch = graft.operators.AsOfJoin
      .lastEventAtOrBefore(clicks, errors, "user_id", "ts")
      .select($"event_id", $"asof_ts").collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap
    val streamed = AsOfStream
      .lastAtOrBefore(clicks, errors, "user_id", "ts")
      .select($"event_id", $"asof_ts").collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap
    assert(streamed.size == batch.size)
    assert(streamed == batch, {
      val diff = (batch.keySet ++ streamed.keySet)
        .filter(k => batch.get(k) != streamed.get(k)).take(5)
      s"as-of mismatch on ${diff.map(k => (k, batch.get(k), streamed.get(k)))}"
    })
  }

  test("sessionize in batch execution == q24 session rollup on real events") {
    import spark.implicits._
    val e = graft.Tables.t(spark, sf, "events")
    // q24 keyed by (user, session_start): session ids are ordinal, the
    // window twin identifies sessions by their start instant instead
    val q24 = graft.SparkEntry.queries("q24_sessionize")(spark, sf)
      .select($"user_id", $"session_start", $"n_events", $"session_value")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val tw = EventStreams.sessionize(e.select($"user_id", $"ts", $"value"))
      .select($"user_id",
        date_format($"session_start", "yyyy-MM-dd HH:mm:ss").as("session_start"),
        $"n_events", $"session_value")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(tw.size == q24.size, s"${tw.size} sessions vs q24's ${q24.size}")
    assert(tw == q24)
  }

  test("AsOfStream keeps per-key state across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // rows: (user_id, ts, event_id, tag source) — tag derived by type col
    val left = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val right = MemoryStream[(Long, java.sql.Timestamp)]
    val out = AsOfStream.lastAtOrBefore(
      left.toDF().toDF("user_id", "ts", "event_id"),
      right.toDF().toDF("user_id", "ts"),
      "user_id", "ts")
    val q = out.writeStream.format("memory").queryName("asof_out")
      .outputMode("append").start()
    try {
      // batch 1: an error at 10:01, a click at 10:05
      right.addData((1L, ts(1)))
      left.addData((1L, ts(5), 100L))
      q.processAllAvailable()
      // batch 2: a click at 10:09 — must see batch 1's error from STATE
      left.addData((1L, ts(9), 101L))
      q.processAllAvailable()
      val got = spark.table("asof_out")
        .select($"event_id", $"asof_ts").collect()
        .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
      assert(got == Map(100L -> ts(1), 101L -> ts(1)), s"got $got")
    } finally q.stop()
  }

  test("session stream survives stop/restart from checkpoint without loss or dup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    withTempDir("graft-sess-") { tmp =>
      val ckpt = mkdir(tmp, "ckpt")
      val outDir = mkdir(tmp, "out")
      // the memory sink cannot recover from a checkpoint; the parquet
      // sink (the production shape) can — its commit log also dedups a
      // replayed batch, which is half of what this test pins
      def start() = EventStreams.sessionize(
          mem.toDF().toDF("user_id", "ts", "value"),
          gap = "30 minutes", watermark = "10 minutes")
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      val q1 = start()
      try {
        // session A for user 1, still OPEN (watermark hasn't passed it)
        mem.addData((1L, ts(9, 0), 1.0), (1L, ts(9, 5), 2.0))
        q1.processAllAvailable()
      } finally q1.stop()
      // restart from the checkpoint: the open session's window state must
      // be restored, extended by a pre-gap event, then closed by a late
      // watermark advance — emitted exactly once with ALL three events
      val q2 = start()
      try {
        mem.addData((1L, ts(9, 20), 4.0))
        q2.processAllAvailable()
        mem.addData((2L, ts(13, 0), 9.0))
        q2.processAllAvailable()
        val rows = spark.read.parquet(outDir)
          .filter($"user_id" === 1L)
          .select($"n_events", $"session_value").collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
        assert(rows.toSeq == Seq((3L, 7.0)),
          s"restored session wrong: ${rows.mkString(", ")}")
      } finally q2.stop()
    }
  }

  test("sessionize under a hot key: one user owning 10% of events stays exact") {
    import spark.implicits._
    // deliberately skewed fixture, generated on executors: user 1 owns
    // 20k of 200k events (10%) in 200 bursts of 100 ten-second-spaced
    // events (burst span 990s), bursts 2h apart — >30m of silence
    // between bursts, so exactly 200 sessions of 100 events for the
    // hot key's single MergingSessions group chain. 2000 cold users
    // hold 90 events each at 1h spacing — every event its own session.
    val base = 1700000000L
    val hot = spark.range(0L, 20000L).selectExpr(
      "cast(1 as bigint) as user_id",
      s"timestamp_seconds($base + (id div 100) * 7200 + (id % 100) * 10) as ts",
      "cast(1.0 as double) as value")
    val cold = spark.range(0L, 180000L).selectExpr(
      "cast(2 + (id % 2000) as bigint) as user_id",
      s"timestamp_seconds($base + (id div 2000) * 3600) as ts",
      "cast(0.5 as double) as value")
    val sessions = EventStreams.sessionize(hot.unionByName(cold))
    val agg = sessions.selectExpr(
      "count(1) as n_sessions",
      "sum(case when user_id = 1 then 1 else 0 end) as hot_sessions",
      "min(case when user_id = 1 then n_events end) as hot_min_ev",
      "max(case when user_id = 1 then n_events end) as hot_max_ev",
      "max(case when user_id = 1 then session_value end) as hot_val",
      "max(case when user_id != 1 then n_events end) as cold_max_ev").head()
    assert(agg.getAs[Long]("hot_sessions") == 200L,
      s"hot key sessions: ${agg.getAs[Long]("hot_sessions")}")
    assert(agg.getAs[Long]("hot_min_ev") == 100L &&
      agg.getAs[Long]("hot_max_ev") == 100L,
      "hot-key session sizes drifted under skew")
    assert(agg.getAs[Double]("hot_val") == 100.0)
    assert(agg.getAs[Long]("cold_max_ev") == 1L,
      "cold sessions must be singletons (1h spacing > 30m gap)")
    assert(agg.getAs[Long]("n_sessions") == 200L + 2000L * 90L)
  }

  test("AsOfStream under a hot key agrees with AsOfJoin exactly") {
    import spark.implicits._
    // same skew shape on the as-of pair: the hot key funnels 20k left
    // + 2k right rows through ONE task's sorted group pass in batch
    // execution (the documented buffer bound) and must stay row-exact
    // against the q19 batch operator on the identical input
    val base = 1700000000L
    val left = spark.range(0L, 22000L).selectExpr(
      "case when id < 20000 then cast(1 as bigint) else 2 + (id % 100) end as user_id",
      s"timestamp_seconds($base + (id % 20000) * 60) as ts",
      "id as event_id")
    val right = spark.range(0L, 2200L).selectExpr(
      "case when id < 2000 then cast(1 as bigint) else 2 + (id % 100) end as user_id",
      s"timestamp_seconds($base + (id % 2000) * 600 + 30) as ts")
    val batch = graft.operators.AsOfJoin
      .lastEventAtOrBefore(left, right, "user_id", "ts")
      .select($"event_id", $"asof_ts")
    val streamed = AsOfStream
      .lastAtOrBefore(left, right, "user_id", "ts")
      .select($"event_id", $"asof_ts")
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0 &&
      batch.except(streamed).count() == 0,
      "hot-key as-of output diverged between the twins")
  }

  test("streamed session_window closes sessions at the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val out = EventStreams.sessionize(
      mem.toDF().toDF("user_id", "ts", "value"),
      gap = "30 minutes", watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // one session: 10:00, 10:10 (same 30-min gap), then silence;
      // a 13:00 event advances the watermark far past its close
      mem.addData((1L, ts(10, 0), 1.0), (1L, ts(10, 10), 2.0))
      q.processAllAvailable()
      mem.addData((2L, ts(13, 0), 9.0))
      q.processAllAvailable()
      val rows = spark.table("sess_out")
        .select($"user_id", $"n_events", $"session_value").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows.contains((1L, 2L, 3.0)),
        s"closed session not emitted: ${rows.mkString(", ")}")
    } finally q.stop()
  }
}
