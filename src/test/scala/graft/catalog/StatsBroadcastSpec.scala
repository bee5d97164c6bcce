package graft.catalog

import graft.GraftSession.withConf
import graft.SparkSpec
import graft.core.TableStore
import org.apache.spark.sql.functions._

/** ANALYZE-fed FIRST-stage planning ([[graft.core.SelectivityEstimate]]
  * via GraftStatsScan.estimateStatistics): a selectively-filtered branch
  * reports a proportionally smaller `sizeInBytes`, so `JoinSelection`
  * broadcasts it STATICALLY — before any shuffle map has run, where AQE's
  * runtime conversion arrives too late to save the fact side's shuffle
  * write. The estimate uses safe-direction evidence only; the skew test
  * is the design's point: a hot key must NEVER be under-estimated into a
  * broadcast (the classic 1/NDV failure mode). */
class StatsBroadcastSpec extends SparkSpec {
  import spark.implicits._

  private def freshCat(): (String, String, TableStore) = {
    val wh = tmpDir("statsbc")
    val cat = s"gsbc${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (wh, cat, new TableStore(spark, wh))
  }

  // uniform: 40k rows, 200 distinct keys (200 rows each), padded so the
  // table is comfortably over the tiny broadcast threshold set below
  private def uniformDf = (0 until 40000).map { i =>
    (i.toLong, s"k${i % 200}", "x" * 64)
  }.toDF("id", "key", "pad")

  private def scanStats(sql: String) = {
    val plan = spark.sql(sql).queryExecution.optimizedPlan
    plan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.stats
    }.head
  }

  test("equality filter after ANALYZE shrinks the scan estimate by maxFreq/rows") {
    val (_, cat, store) = freshCat()
    store.commit("t", uniformDf, "create")
    val full = scanStats(s"SELECT * FROM $cat.ns.t").sizeInBytes
    // no ANALYZE yet: no evidence, no scaling
    val unanalyzed = scanStats(s"SELECT * FROM $cat.ns.t WHERE key = 'k7'")
    assert(unanalyzed.sizeInBytes == full,
      s"without stats the estimate must not shrink: $unanalyzed vs $full")
    store.analyzeTable("t")
    val filtered = scanStats(s"SELECT * FROM $cat.ns.t WHERE key = 'k7'")
    // maxFreq = 200 of 40000 rows = 1/200th of the table
    assert(filtered.sizeInBytes * 100 <= full,
      s"expected ~1/200 estimate, got $filtered of $full")
    assert(filtered.rowCount.exists(_.toLong == 200L),
      s"rowCount should be the maxFreq bound, got ${filtered.rowCount}")
  }

  test("skew safety: a hot key bounds EVERY equality estimate, no wrong broadcast") {
    val (_, cat, store) = freshCat()
    // 50k rows: one key holds 30k (60%), 200 cold keys share the rest —
    // 1/NDV would claim 0.5%, reality for 'hot' is 60%
    val skew = (0 until 50000).map { i =>
      (i.toLong, if (i < 30000) "hot" else s"c${i % 200}", "x" * 64)
    }.toDF("id", "key", "pad")
    store.commit("t", skew, "create")
    store.analyzeTable("t")
    val full = scanStats(s"SELECT * FROM $cat.ns.t").sizeInBytes
    // even filtering on a COLD literal, the bound is maxFreq (30k of 50k):
    // the estimate may not drop below 60% of the table
    val cold = scanStats(s"SELECT * FROM $cat.ns.t WHERE key = 'c7'")
    assert(cold.sizeInBytes * 2 >= full,
      s"skewed column under-estimated: $cold of $full — broadcast hazard")
  }

  test("range filter interpolates against exact manifest min/max, floored at 5%") {
    val (_, cat, store) = freshCat()
    store.commit("t", uniformDf, "create")
    store.analyzeTable("t")
    val full = scanStats(s"SELECT * FROM $cat.ns.t").sizeInBytes
    // id uniform on [0, 40000): id >= 36000 is the top 10%
    val top10 = scanStats(s"SELECT * FROM $cat.ns.t WHERE id >= 36000")
    assert(top10.sizeInBytes * 5 <= full && top10.sizeInBytes * 20 >= full,
      s"expected ~10% estimate, got $top10 of $full")
    // a 0.01% range clamps at the 5% uniformity floor — applied WITHIN
    // the files surviving manifest pruning (pruning is exact and may
    // legitimately cut deeper: ids are written contiguously across 4
    // files here, so the sliver keeps 1 file and the floor yields
    // 5% x 25%); the true 0.01% may not be claimed
    val sliver = scanStats(s"SELECT * FROM $cat.ns.t WHERE id >= 39996")
    assert(sliver.sizeInBytes * 100 >= full,
      s"range estimate fell through the 5%% floor: $sliver of $full")
    assert(sliver.rowCount.exists(_.toLong >= 100L),
      s"floored estimate must stay >= 5%% of kept rows: ${sliver.rowCount}")
  }

  test("rows appended since ANALYZE pad the bound (stale stats stay safe)") {
    val (_, cat, store) = freshCat()
    store.commit("t", uniformDf, "create")
    store.analyzeTable("t")
    val before = scanStats(s"SELECT * FROM $cat.ns.t WHERE key = 'k7'")
    // append 20k MORE rows (all could be 'k7' for all the planner knows)
    store.append("t", (0 until 20000).map(i =>
      (i.toLong, "k7", "x" * 64)).toDF("id", "key", "pad"))
    val after = scanStats(s"SELECT * FROM $cat.ns.t WHERE key = 'k7'")
    assert(after.rowCount.exists(_.toLong >= 20200L),
      s"stale bound must cover appended rows: ${after.rowCount}")
    assert(after.sizeInBytes > before.sizeInBytes)
  }

  test("the filtered branch of a join broadcasts statically, without CBO or AQE") {
    val (_, cat, store) = freshCat()
    store.commit("big", uniformDf, "create")
    store.commit("other", (0 until 40000).map(i =>
      (s"k${i % 200}", i.toLong)).toDF("key", "v"), "create")
    store.analyzeTable("big")
    // ~1.5% of the table's bytes: full scans must NOT broadcast, the
    // 1/200th-filtered branch must
    val threshold =
      store.manifests("big").maxBy(_.version).files.map(_.sizeBytes).sum / 64
    withConf(spark, "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> threshold.toString) {
      def joinPlan(where: String) = spark.sql(
        s"SELECT o.key, count(*) AS n FROM $cat.ns.other o " +
          s"JOIN $cat.ns.big b ON o.key = b.key $where " +
          "GROUP BY o.key").queryExecution.executedPlan
      val unfiltered = joinPlan("")
      assert(unfiltered.toString.contains("SortMergeJoin"),
        s"unfiltered join must stay sort-merge:\n$unfiltered")
      val filtered = joinPlan("WHERE b.key = 'k7'")
      assert(filtered.toString.contains("BroadcastHashJoin"),
        s"filtered branch should broadcast statically:\n$filtered")
    }
  }

  test("estimation can be disabled by conf") {
    val (_, cat, store) = freshCat()
    store.commit("t", uniformDf, "create")
    store.analyzeTable("t")
    withConf(spark, "spark.graft.stats.filterEstimation" -> "false") {
      val full = scanStats(s"SELECT * FROM $cat.ns.t").sizeInBytes
      val filtered = scanStats(s"SELECT * FROM $cat.ns.t WHERE key = 'k7'")
      assert(filtered.sizeInBytes == full)
    }
  }
}
