package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** ANALYZE (snapshot-scoped per-column stats) + the `$stats` metadata
  * table: null counts exact, NDV exact below the KMV k, estimated above,
  * staleness explicit (stats pin the analyzed version, never carry). */
class AnalyzeSpec extends SparkSpec {
  import spark.implicits._

  private def newStore() = new TableStore(spark,
    java.nio.file.Files.createTempDirectory("graft_analyze").toString)

  private val df = (0 until 2000).map { i =>
    (i.toLong, s"g${i % 12}", if (i % 5 == 0) null else s"v${i % 40}")
  }.toDF("id", "grp", "maybe")

  test("null counts exact; NDV exact below k, within 10% above; maxFreq exact") {
    val store = newStore()
    store.commit("t", df, "create")
    store.analyzeTable("t")
    val Some((v, rc, cols)) = store.columnStats("t")
    assert(v == 1L && rc == 2000L)
    val byCol = cols.map(c => c._1 -> ((c._2, c._3))).toMap
    assert(byCol("grp") == ((0L, 12L)))     // exact: 12 < k
    // i%5 == (i%40)%5, so the 8 residues divisible by 5 are always null:
    // 32 distinct non-null values
    assert(byCol("maybe") == ((400L, 32L))) // nulls exact, ndv exact
    val (idNulls, idNdv) = byCol("id")      // 2000 distinct > k: estimate
    assert(idNulls == 0L)
    assert(math.abs(idNdv - 2000L) * 10 <= 2000L, s"ndv estimate off: $idNdv")
    // maxFreq (count of the most frequent non-null value) is exact:
    // 2000/12 → the first 8 residues get 167; 32 non-null 'maybe' values
    // each appear 50 times; ids are unique
    val mfByCol = cols.map(c => c._1 -> c._4).toMap
    assert(mfByCol("grp") == 167L)
    assert(mfByCol("maybe") == 50L)
    assert(mfByCol("id") == 1L)
  }

  test("stats are snapshot-scoped: staleness is explicit, never carried") {
    val store = newStore()
    store.commit("t", df, "create")
    store.analyzeTable("t")
    store.append("t", Seq((9999L, "gNEW", "vNEW")).toDF("id", "grp", "maybe"))
    val Some((v, rc, _)) = store.columnStats("t")
    assert(v == 1L && rc == 2000L, "stats must still describe version 1")
    assert(store.currentVersion("t") == 2L)
    store.analyzeTable("t")
    val Some((v2, rc2, cols2)) = store.columnStats("t")
    assert(v2 == 2L && rc2 == 2001L)
    assert(cols2.find(_._1 == "grp").get._3 == 13L) // gNEW joined the domain
  }

  test("column subset + unknown column validation") {
    val store = newStore()
    store.commit("t", df, "create")
    store.analyzeTable("t", Seq("grp"))
    val Some((_, _, cols)) = store.columnStats("t")
    assert(cols.map(_._1) == Seq("grp"))
    intercept[IllegalArgumentException] {
      store.analyzeTable("t", Seq("nope"))
    }
  }

  test("SQL: CALL analyze_table + SELECT FROM t$stats") {
    val wh = tmpDir("graft_an_sql")
    val cat = s"gan${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val store = new TableStore(spark, wh)
    store.commit("t", df, "create")
    // before ANALYZE: $stats is empty, not an error
    assert(spark.sql(s"SELECT * FROM $cat.ns.`t$$stats`").count() == 0)
    val r = spark.sql(s"CALL $cat.system.analyze_table(table => 't')").collect()
    assert(r.head.getLong(0) == 1L && r.head.getLong(1) == 3L)
    val st = spark.sql(s"SELECT column, n_nulls, ndv, analyzed_version, " +
        s"current_version FROM $cat.ns.`t$$stats` ORDER BY column").collect()
    assert(st.length == 3)
    assert(st.map(_.getString(0)).toSeq == Seq("grp", "id", "maybe"))
    assert(st.forall(r => r.getLong(3) == 1L && r.getLong(4) == 1L))
  }

  test("ANALYZE stats feed the planner: NDV/nulls reach catalyst column stats") {
    val wh = tmpDir("graft_an_cbo")
    val cat = s"gcbo${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val store = new TableStore(spark, wh)
    store.commit("t", df, "create")
    store.analyzeTable("t")
    graft.GraftSession.withConf(spark, "spark.sql.cbo.enabled" -> "true") {
      val stats = spark.sql(s"SELECT id, grp, maybe FROM $cat.ns.t")
        .queryExecution.optimizedPlan.stats
      assert(stats.rowCount.exists(_.toLong == 2000L))
      val byName = stats.attributeStats.map { case (a, s) => a.name -> s }
      assert(byName.contains("grp"),
        s"expected ANALYZE column stats in the plan, got ${byName.keys}")
      assert(byName("grp").distinctCount.exists(_.toLong == 12L))
      assert(byName("maybe").nullCount.exists(_.toLong == 400L))
    }
  }

  test("a zero-row snapshot ANALYZEs to zeros instead of failing") {
    val store = newStore()
    store.commit("t", df.limit(3), "create")
    store.commit("t", df.limit(0), "overwrite") // delete-all'd snapshot
    store.analyzeTable("t")
    val Some((_, rc, cols)) = store.columnStats("t")
    assert(rc == 0L)
    assert(cols.forall { case (_, nulls, ndv, mf) =>
      nulls == 0L && ndv == 0L && mf == 0L })
  }

  test("incremental ANALYZE after appends equals a full recompute's NDV") {
    val store = newStore()
    store.commit("t", df, "create")
    store.analyzeTable("t")
    // two append batches: new ids, overlapping grp values, extra nulls
    store.append("t", (2000 until 2600).map { i =>
      (i.toLong, s"g${i % 20}", if (i % 3 == 0) null else s"v${i % 55}")
    }.toDF("id", "grp", "maybe"))
    store.append("t", (2600 until 2800).map { i =>
      (i.toLong, s"g${i % 20}", s"v${i % 55}")
    }.toDF("id", "grp", "maybe"))
    val v = store.analyzeIncremental("t")
    assert(v == store.manifests("t").map(_.version).max)
    val Some((_, rcInc, colsInc)) = store.columnStats("t")
    // full recompute into a rival store for comparison
    store.analyzeTable("t")
    val Some((_, rcFull, colsFull)) = store.columnStats("t")
    assert(rcInc == rcFull && rcInc == 2800L)
    val incBy = colsInc.map(c => c._1 -> c).toMap
    val fullBy = colsFull.map(c => c._1 -> c).toMap
    for ((c, (_, nullsF, ndvF, mfF)) <- fullBy) {
      val (_, nullsI, ndvI, mfI) = incBy(c)
      assert(nullsI == nullsF, s"$c nulls")
      // KMV registers merge exactly → identical estimate
      assert(ndvI == ndvF, s"$c ndv: inc $ndvI vs full $ndvF")
      // merged maxFreq is a safe UPPER bound on the exact one
      assert(mfI >= mfF, s"$c maxFreq bound violated: $mfI < $mfF")
    }
  }

  test("incremental ANALYZE falls back to full after a rewrite") {
    val store = newStore()
    store.commit("t", df.repartition(4), "create")
    store.analyzeTable("t")
    store.append("t", Seq((9999L, "gX", "vX")).toDF("id", "grp", "maybe"))
    store.compact("t") // rewrites history: base files removed
    val v = store.analyzeIncremental("t")
    val Some((av, rc, cols)) = store.columnStats("t")
    assert(av == v && rc == 2001L)
    // full-recompute semantics: exact maxFreq, not a summed bound
    store.analyzeTable("t")
    val Some((_, _, colsFull)) = store.columnStats("t")
    assert(cols.toSet == colsFull.toSet)
  }

  test("incremental ANALYZE with no delta just restamps the version") {
    val store = newStore()
    store.commit("t", df, "create")
    store.analyzeTable("t")
    val v = store.analyzeIncremental("t") // same snapshot: no delta
    val Some((_, rc, _)) = store.columnStats("t")
    assert(v == store.currentVersion("t") && rc == 2000L)
  }
}
