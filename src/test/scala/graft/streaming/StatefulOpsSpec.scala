package graft.streaming

import graft.GraftSession.withConf
import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** transformWithState (State API v2): per-key ValueState + MapState
  * survive micro-batch boundaries in the RocksDB state store; each batch
  * emits an updated snapshot per key; the final (max-n) snapshot equals
  * the batch aggregate. */
class StatefulOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def withRocksDb[A](f: => A): A =
    withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(f)

  test("state accumulates across micro-batches; final snapshot = batch agg") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Event]
      val out = StatefulOps.runningProfiles(mem.toDS())
      val q = out.toDF().writeStream.format("memory")
        .queryName("profiles")
        .outputMode("update")
        .option("checkpointLocation", tmpDir("sops_ckpt"))
        .start()
      try {
        mem.addData(
          Event(1L, ts("2024-01-01 00:00:00"), "click", 1.25),
          Event(1L, ts("2024-01-01 00:01:00"), "view", 2.00),
          Event(2L, ts("2024-01-01 00:02:00"), "click", 5.50))
        q.processAllAvailable()
        mem.addData(
          Event(1L, ts("2024-01-01 01:00:00"), "view", 0.75),
          Event(1L, ts("2024-01-01 01:01:00"), "view", 3.00))
        q.processAllAvailable()
      } finally q.stop()
      // the final snapshot per user is the max-n row (n strictly monotone)
      val fin = spark.table("profiles")
        .groupBy(col("user_id"))
        .agg(max(struct(col("n"), col("cents"), col("top_type"),
          col("top_n"))).as("s"))
        .select(col("user_id"), col("s.*"))
        .as[(Long, Long, Long, String, Long)].collect().toSeq.sortBy(_._1)
      assert(fin == Seq(
        (1L, 4L, 700L, "view", 3L),   // 125+200+75+300 cents; view×3
        (2L, 1L, 550L, "click", 1L)))
      // user 1 was seen in both batches → two snapshots landed
      assert(spark.table("profiles").filter(col("user_id") === 1).count() == 2)
    }
  }

  test("argmax ties break to the lexicographically smallest type") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Event]
      val out = StatefulOps.runningProfiles(mem.toDS())
      val q = out.toDF().writeStream.format("memory")
        .queryName("profiles_tie")
        .outputMode("update")
        .option("checkpointLocation", tmpDir("sops_ckpt2"))
        .start()
      try {
        mem.addData(
          Event(7L, ts("2024-01-01 00:00:00"), "zeta", 1.0),
          Event(7L, ts("2024-01-01 00:01:00"), "alpha", 1.0))
        q.processAllAvailable()
      } finally q.stop()
      val r = spark.table("profiles_tie")
        .select(col("top_type"), col("top_n"))
        .as[(String, Long)].head()
      assert(r == ("alpha", 1L))
    }
  }

  test("event-time timers fire on inactivity; final expiry = max ts + gap") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Event]
      val out = StatefulOps.inactivityExpiry(mem.toDS(), gapMinutes = 30,
        watermarkDelay = "0 seconds")
      val q = out.toDF().writeStream.format("memory")
        .queryName("expiries")
        .outputMode("append")
        .option("checkpointLocation", tmpDir("sops_ckpt3"))
        .start()
      try {
        mem.addData(
          Event(1L, ts("2024-01-01 00:00:00"), "click", 1.0),
          Event(1L, ts("2024-01-01 00:10:00"), "view", 1.0),
          Event(2L, ts("2024-01-01 00:05:00"), "click", 1.0))
        q.processAllAvailable()
        // user 1 resumes AFTER a >30min gap: their earlier timer fires as
        // the watermark advances past 00:40, then re-arms
        mem.addData(Event(1L, ts("2024-01-01 02:00:00"), "click", 1.0))
        q.processAllAvailable()
        // sentinel advances the watermark past every live timer
        mem.addData(Event(99L, ts("2024-01-01 09:00:00"), "x", 0.0))
        q.processAllAvailable()
      } finally q.stop()
      val fin = spark.table("expiries")
        .filter(col("user_id") =!= 99)
        .groupBy(col("user_id"))
        .agg(max(struct(col("n"), col("expire_ts"))).as("s"))
        .select(col("user_id"), col("s.n"),
          date_format(col("s.expire_ts"), "HH:mm").as("at"))
        .as[(Long, Long, String)].collect().toSeq.sortBy(_._1)
      assert(fin == Seq((1L, 3L, "02:30"), (2L, 1L, "00:35")),
        s"got $fin")
      // whether user 1 ALSO fired mid-stream depends on how far the
      // watermark had advanced when their 02:00 event re-armed the timer
      // (new activity deletes an unfired timer — the inactivity
      // semantic); only the FINAL max-(n, expire_ts) row is contractual
      assert(spark.table("expiries").filter(col("user_id") === 1).count() >= 1)
    }
  }
}
