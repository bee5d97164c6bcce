package graft.catalog

import graft.SparkSpec
import graft.core.TableStore
import org.apache.spark.sql.functions._

class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0

  /** Unique catalog name per test: CatalogManager caches the initialized
    * instance per name, so re-pointing an existing name's warehouse would
    * silently keep the old one. */
  private def withCatalog[T](f: (TableStore, String) => T): T = {
    n += 1
    val cat = s"g$n"
    val wh = tmpDir("cat")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    f(new TableStore(spark, wh), cat)
  }

  /** Every GraftStatsScan of an executed plan, inside adaptive query
    * stages too. */
  private def statsScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.graft.GraftStatsScan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val self = p match {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan match {
          case g: org.apache.spark.sql.graft.GraftStatsScan => Seq(g)
          case _ => Seq.empty
        }
      case _ => Seq.empty
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case o => o.children
    }
    self ++ kids.flatMap(statsScans)
  }

  test("SQL reads resolve through the catalog with pushdown intact") {
    withCatalog { (store, cat) =>
      store.commit("t", (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "s"), "create")
      val out = spark.sql(s"SELECT s FROM $cat.ns.t WHERE id = 42").as[String].collect()
      assert(out.toSeq == Seq("v42"))
    }
  }

  test("SQL reads prune files at the manifest level before the parquet scan") {
    withCatalog { (store, cat) =>
      store.commit("t", (1L to 1000L).map(i => (i, s"v$i")).toDF("id", "s")
        .repartitionByRange(8, col("id")), "create")
      val df = spark.sql(s"SELECT s FROM $cat.ns.t WHERE id BETWEEN 100 AND 150")
      val scanned = df.queryExecution.executedPlan.collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan match {
            case g: org.apache.spark.sql.graft.GraftStatsScan => g.inner match {
              case f: org.apache.spark.sql.execution.datasources.v2.FileScan =>
                f.fileIndex.inputFiles.length
            }
            case f: org.apache.spark.sql.execution.datasources.v2.FileScan =>
              f.fileIndex.inputFiles.length
          }
      }.sum
      assert(scanned > 0 && scanned < 8, s"expected manifest pruning, scanned $scanned/8")
      assert(df.count() == 51)
      // unfiltered read still sees every file and row
      assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t").as[Long].head() == 1000L)
    }
  }

  test("VERSION AS OF reads an older snapshot") {
    withCatalog { (store, cat) =>
      store.commit("t", Seq((1L, "a")).toDF("id", "s"), "create")
      store.append("t", Seq((2L, "b")).toDF("id", "s"))
      assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t VERSION AS OF 1")
        .as[Long].head() == 1L)
      assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t").as[Long].head() == 2L)
    }
  }

  test("TIMESTAMP AS OF resolves the snapshot at that instant") {
    withCatalog { (store, cat) =>
      store.commit("t", Seq((1L, "a")).toDF("id", "s"), "create")
      Thread.sleep(30)
      val mid = java.sql.Timestamp.from(java.time.Instant.now())
      Thread.sleep(30)
      store.append("t", Seq((2L, "b")).toDF("id", "s"))
      val n = spark.sql(
        s"SELECT count(*) FROM $cat.ns.t TIMESTAMP AS OF '$mid'").as[Long].head()
      assert(n == 1L)
    }
  }

  test("SQL CTAS creates and fills a store table") {
    withCatalog { (store, cat) =>
      spark.sql(s"CREATE TABLE $cat.ns.t AS SELECT * FROM VALUES (1, 'a'), (2, 'b') v(id, s)")
      assert(store.exists("t"))
      assert(spark.sql(s"SELECT id, s FROM $cat.ns.t ORDER BY id")
        .as[(Int, String)].collect().toSeq == Seq((1, "a"), (2, "b")))
      // atomic CTAS (StagingTableCatalog): schema + data land as ONE
      // create snapshot — no empty-table window
      assert(store.history("t").select("operation").as[String].collect().toSeq ==
        Seq("create"))
    }
  }

  test("SQL INSERT INTO appends without rewriting old files; OVERWRITE replaces") {
    withCatalog { (store, cat) =>
      spark.sql(s"CREATE TABLE $cat.ns.t AS SELECT 1 AS id, 'a' AS s")
      val before = store.manifests("t").maxBy(_.version).files
      spark.sql(s"INSERT INTO $cat.ns.t VALUES (2, 'b')")
      val after = store.manifests("t").maxBy(_.version).files
      assert(before.forall(fe => after.exists(_.path == fe.path))) // metadata-only append
      assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t").as[Long].head() == 2L)
      spark.sql(s"INSERT OVERWRITE $cat.ns.t VALUES (9, 'z')")
      assert(spark.sql(s"SELECT id, s FROM $cat.ns.t").as[(Int, String)]
        .collect().toSeq == Seq((9, "z")))
    }
  }

  test("SQL MERGE INTO: 3-branch update/delete/insert via pure SQL") {
    withCatalog { (store, cat) =>
      store.commit("t", Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
        .toDF("id", "s", "v"), "create")
      spark.sql(
        s"""MERGE INTO $cat.ns.t t
           |USING (SELECT * FROM VALUES (1L, 'A', 11L), (3L, 'DEL', 0L), (4L, 'd', 40L)
           |       src(id, s, v)) s
           |ON t.id = s.id
           |WHEN MATCHED AND s.s = 'DEL' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET t.s = s.s, t.v = s.v
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val out = spark.sql(s"SELECT id, s, v FROM $cat.ns.t ORDER BY id")
        .as[(Long, String, Long)].collect().toSeq
      assert(out == Seq((1L, "A", 11L), (2L, "b", 20L), (4L, "d", 40L)))
      assert(store.history("t").select("operation").as[String].collect().head == "merge")
      // old snapshot still readable (time travel across a SQL merge)
      assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t VERSION AS OF 1")
        .as[Long].head() == 3L)
    }
  }

  test("SQL UPDATE and DELETE rewrite through the row-level operation path") {
    withCatalog { (store, cat) =>
      // one file per row, so the file-level COW is observable per key
      store.commit("t", Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v")
        .repartitionByRange(3, col("id")), "create")
      val v1Files = store.manifests("t").last.files.map(_.path).toSet
      assert(v1Files.size == 3)
      spark.sql(s"UPDATE $cat.ns.t SET v = v + 1 WHERE id = 2")
      // only the file containing id=2 was rewritten; the other two v1
      // files are carried into v2 by reference (zero I/O copy-on-write)
      val v2Files = store.manifests("t").last.files.map(_.path).toSet
      assert((v1Files intersect v2Files).size == 2, s"v1=$v1Files v2=$v2Files")
      spark.sql(s"DELETE FROM $cat.ns.t WHERE id = 1")
      val out = spark.sql(s"SELECT id, v FROM $cat.ns.t ORDER BY id")
        .as[(Long, Long)].collect().toSeq
      assert(out == Seq((2L, 21L), (3L, 30L)))
    }
  }

  test("t$history and t$files metadata tables are SQL-queryable") {
    withCatalog { (store, cat) =>
      store.commit("t", Seq((1L, "a")).toDF("id", "s"), "create")
      store.append("t", Seq((2L, "b")).toDF("id", "s"))
      val hist = spark.sql(
        s"SELECT version, operation, row_count FROM $cat.ns.`t$$history` ORDER BY version DESC")
        .as[(Long, String, Long)].collect().toSeq
      assert(hist == Seq((2L, "append", 2L), (1L, "create", 1L)))
      val files = spark.sql(s"SELECT count(*) FROM $cat.ns.`t$$files`").as[Long].head()
      assert(files == store.manifests("t").last.files.size.toLong)
    }
  }

  test("SQL MERGE prunes unmatched files via runtime group filtering") {
    withCatalog { (store, cat) =>
      // 4 range-clustered files over id 1..100
      store.commit("t", (1L to 100L).map(i => (i, i * 10L)).toDF("id", "v")
        .repartitionByRange(4, col("id")), "create")
      val v1Files = store.manifests("t").last.files.map(_.path).toSet
      assert(v1Files.size == 4)
      // the source touches only ids 5 and 17 — both land in the first
      // range file; the other three files must survive by reference
      spark.sql(
        s"""MERGE INTO $cat.ns.t t
           |USING (SELECT * FROM VALUES (5L, 999L), (17L, 888L) s(id, v)) s
           |ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET t.v = s.v
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val v2Files = store.manifests("t").last.files.map(_.path).toSet
      assert((v1Files intersect v2Files).size == 3,
        s"runtime group filter should keep 3 of 4 files: v1=$v1Files v2=$v2Files")
      // correctness: updates applied, everything else untouched
      val out = spark.sql(s"SELECT count(*), sum(v) FROM $cat.ns.t")
        .as[(Long, Long)].head()
      assert(out == ((100L, (1L to 100L).map(_ * 10L).sum - 50 - 170 + 999 + 888)))
    }
  }

  test("ALTER TABLE ADD/DROP COLUMN evolves the schema without touching data") {
    withCatalog { (store, cat) =>
      store.commit("t", Seq((1L, "a")).toDF("id", "s"), "create")
      val filesBefore = store.manifests("t").last.files.map(_.path).toSet
      spark.sql(s"ALTER TABLE $cat.ns.t ADD COLUMN score DOUBLE")
      spark.sql(s"INSERT INTO $cat.ns.t VALUES (2, 'b', 0.5)")
      val rows = spark.sql(s"SELECT id, s, score FROM $cat.ns.t ORDER BY id")
        .as[(Long, String, Option[Double])].collect().toSeq
      assert(rows == Seq((1L, "a", None), (2L, "b", Some(0.5))))
      spark.sql(s"ALTER TABLE $cat.ns.t DROP COLUMN s")
      assert(spark.table(s"$cat.ns.t").columns.toSeq == Seq("id", "score"))
      // all original files still referenced — pure metadata ops
      val filesAfter = store.manifests("t").last.files.map(_.path).toSet
      assert(filesBefore.subsetOf(filesAfter))
      // RENAME is metadata-only too now (column mapping pins the physical
      // name — ColumnMappingSpec owns the deep coverage)
      spark.sql(s"ALTER TABLE $cat.ns.t RENAME COLUMN id TO id2")
      assert(spark.sql(s"SELECT id2 FROM $cat.ns.t ORDER BY id2")
        .as[Long].collect().toSeq == Seq(1L, 2L))
      assert(store.manifests("t").last.files.map(_.path).toSet == filesAfter)
    }
  }

  test("CALL compact and expire_snapshots run via SQL") {
    withCatalog { (store, cat) =>
      store.commit("t", (1 to 100).toDF("id").repartition(8), "create")
      val res = spark.sql(
        s"CALL $cat.system.compact(`table` => 't', target_file_bytes => ${512L * 1024 * 1024})")
        .as[(Long, Long, Long)].head()
      assert(res == ((2L, 8L, 1L))) // version 2, 8 files before, 1 after
      assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t").as[Long].head() == 100L)
      val exp = spark.sql(s"CALL $cat.system.expire_snapshots(`table` => 't')")
        .as[(Long, Long)].head()
      assert(exp == ((2L, 1L)))
      assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t").as[Long].head() == 100L)
    }
  }

  test("VERSION AS OF resolves tag names; $partitions rolls up the layout") {
    withCatalog { (store, cat) =>
      val d1 = java.sql.Date.valueOf("2024-01-01")
      val d2 = java.sql.Date.valueOf("2024-01-02")
      store.commitPartitioned("t",
        Seq((1L, d1), (2L, d1), (3L, d2)).toDF("id", "day"), Seq("day"), "create")
      store.createTag("t", "v1-release", 1L)
      store.append("t", Seq((4L, d2)).toDF("id", "day"))
      assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t VERSION AS OF 'v1-release'")
        .as[Long].head() == 3L)
      assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t").as[Long].head() == 4L)
      intercept[Exception](
        spark.sql(s"SELECT * FROM $cat.ns.t VERSION AS OF 'no-such-tag'").collect())
      val parts = spark.sql(
        s"SELECT partition, file_count, row_count FROM $cat.ns.`t$$partitions` ORDER BY partition")
        .as[(String, Long, Long)].collect().toSeq
      assert(parts.map(_._1) == Seq("day=2024-01-01", "day=2024-01-02"))
      assert(parts.map(_._3) == Seq(2L, 2L), s"got $parts")
    }
  }

  test("SQL reads serve merge-on-read tables directly; compact still works") {
    withCatalog { (store, cat) =>
      store.commit("t", Seq((1L, "a"), (2L, "b")).toDF("id", "s"), "create")
      store.upsertMoR("t", Seq((2L, "b2")).toDF("id", "s"), Seq("id"))
      // reads apply the deletes at scan time (GraftMorScan, MorReadSpec)
      assert(spark.sql(s"SELECT s FROM $cat.ns.t WHERE id = 2").as[String].head() == "b2")
      assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t").as[Long].head() == 2L)
      // compaction materializes the deletes away; results unchanged
      spark.sql(s"CALL $cat.system.compact(`table` => 't')").collect()
      assert(store.manifests("t").maxBy(_.version).deleteFiles.isEmpty)
      assert(spark.sql(s"SELECT s FROM $cat.ns.t WHERE id = 2").as[String].head() == "b2")
      assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t").as[Long].head() == 2L)
    }
  }

  test("CALL rewrite_sorted clusters files so SQL range scans prune") {
    withCatalog { (store, cat) =>
      store.commit("t",
        (1L to 4000L).toDF("id")
          .withColumn("g", org.apache.spark.sql.functions.md5($"id".cast("string")))
          .repartition(8, $"g"), "create")
      val (k0, t0) = store.prunedFileCount("t", "id", 100L, 200L)
      assert(k0 == t0, "scattered layout should not prune")
      val bytes = store.manifests("t").maxBy(_.version).files.map(_.sizeBytes).sum
      val res = spark.sql(
        s"CALL $cat.system.rewrite_sorted(`table` => 't', sort_columns => 'id', " +
          s"target_file_bytes => ${math.max(1L, bytes / 8)})")
        .as[(Long, Long, Long)].head()
      assert(res._1 == 2L && res._2 == 8L && res._3 > 1L)
      val (k1, t1) = store.prunedFileCount("t", "id", 100L, 200L)
      assert(k1 < t1, s"sorted layout must prune ($k1/$t1)")
      assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t WHERE id BETWEEN 100 AND 200")
        .as[Long].head() == 101L)
    }
  }

  test("CALL publish_staged folds a staged snapshot into the table via SQL") {
    withCatalog { (store, cat) =>
      store.commit("t", Seq((1L, "a")).toDF("id", "s"), "create")
      val id = store.stageAppend("t", Seq((2L, "b")).toDF("id", "s"))
      assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t").as[Long].head() == 1L)
      val v = spark.sql(
        s"CALL $cat.system.publish_staged(`table` => 't', stage_id => '$id')")
        .as[Long].head()
      assert(v == 2L)
      assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t").as[Long].head() == 2L)
    }
  }

  test("CALL remove_orphan_files deletes unreferenced data files via SQL") {
    withCatalog { (store, cat) =>
      store.commit("t", Seq((1L, "a")).toDF("id", "s"), "create")
      val orphan = new org.apache.hadoop.fs.Path(
        store.warehouse + "/t/v=2", "part-orphan.parquet")
      val fs = orphan.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(orphan)
      out.write("x".getBytes("UTF-8")); out.close()
      Thread.sleep(20)
      val n = spark.sql(
        s"CALL $cat.system.remove_orphan_files(`table` => 't', older_than_ms => 0)")
        .as[Long].head()
      assert(n >= 1L && !fs.exists(orphan))
      assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t").as[Long].head() == 1L)
    }
  }

  test("CALL rollback_to_version restores an earlier snapshot, history kept") {
    withCatalog { (store, cat) =>
      store.commit("t", Seq((1L, "a")).toDF("id", "s"), "create")
      store.append("t", Seq((2L, "b")).toDF("id", "s"))
      val res = spark.sql(
        s"CALL $cat.system.rollback_to_version(`table` => 't', version => 1)")
        .as[(Long, Long, Long)].head()
      assert(res == ((2L, 1L, 3L))) // was v2, restored v1, now v3
      assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t").as[Long].head() == 1L)
      // the rolled-back-away snapshot stays time-travelable
      assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t VERSION AS OF 2")
        .as[Long].head() == 2L)
    }
  }

  test("re-adding a dropped column is rejected (stale-value resurrection)") {
    withCatalog { (store, cat) =>
      store.commit("t", Seq((1L, "secret")).toDF("id", "note"), "create")
      spark.sql(s"ALTER TABLE $cat.ns.t DROP COLUMN note")
      assert(spark.sql(s"SELECT * FROM $cat.ns.t").columns.toSeq == Seq("id"))
      // old files still contain `note`; a re-add would read "secret" back
      val e = intercept[Exception](
        spark.sql(s"ALTER TABLE $cat.ns.t ADD COLUMN note STRING"))
      assert(e.getMessage.contains("previously dropped"))
      // a fresh name is fine and reads null from old files
      spark.sql(s"ALTER TABLE $cat.ns.t ADD COLUMN note2 STRING")
      assert(spark.sql(s"SELECT note2 FROM $cat.ns.t").collect().head.isNullAt(0))
    }
  }

  test("runtime file pruning: a dim-filtered star join scans fewer fact files") {
    withCatalog { (store, cat) =>
      // fact: 8 range-clustered files on the join key; dim: 100 keys, the
      // selective predicate maps to keys living in ONE fact file
      store.commit("fact",
        (1L to 10000L).map(i => (i % 100, i, s"p$i")).toDF("k", "seq", "payload")
          .repartitionByRange(8, col("k")), "create")
      store.commit("dim",
        (0L to 99L).map(i => (i, if (i < 3) "hot" else "cold")).toDF("k", "tag"),
        "create")
      val df = spark.sql(
        s"""SELECT count(*) AS n FROM $cat.ns.fact f
           |JOIN $cat.ns.dim d ON f.k = d.k WHERE d.tag = 'hot'""".stripMargin)
      // collect through THIS df: .as[Long] would wrap a new QueryExecution
      // and the inspected plan's scan would never see the runtime filter
      val n = df.collect().head.getLong(0)
      assert(n == 300L) // 3 hot keys × 100 rows each
      val factScan = statsScans(df.queryExecution.executedPlan)
        .find(_.table == "fact")
      assert(factScan.isDefined, "fact-side GraftStatsScan not found in plan")
      val total = store.manifests("fact").maxBy(_.version).files.size
      assert(factScan.get.currentFileCount < total,
        s"runtime filter did not prune: ${factScan.get.currentFileCount}/$total files")
    }
  }

  test("runtime file pruning on a DATE partition keeps the matching day") {
    withCatalog { (store, cat) =>
      // identity partitions fold DATE values into "string" stats
      // ("2024-01-05"), while Spark's runtime IN-list carries epoch days:
      // the two must meet in one domain, or every fact file is dropped
      val days = (0 until 20).map(i => java.sql.Date.valueOf("2024-01-01")
        .toLocalDate.plusDays(i.toLong))
      val fact = spark.range(20000).select(col("id"),
        date_add(lit(java.sql.Date.valueOf("2024-01-01")), (col("id") % 20).cast("int"))
          .as("d"), (col("id") * 3).as("v"))
      store.commitPartitioned("fact", fact, Seq("d"), "create")
      store.commit("dim", days.zipWithIndex.map { case (d, i) =>
        (java.sql.Date.valueOf(d), if (i == 4) "hot" else "cold")
      }.toDF("d", "tag"), "create")
      val df = spark.sql(
        s"""SELECT count(*) AS n FROM $cat.ns.fact f
           |JOIN $cat.ns.dim d ON f.d = d.d WHERE d.tag = 'hot'""".stripMargin)
      assert(df.collect().head.getLong(0) == 1000L)
      val factScan = statsScans(df.queryExecution.executedPlan)
        .find(_.table == "fact")
      val total = store.manifests("fact").maxBy(_.version).files.size
      assert(factScan.exists(_.currentFileCount < total),
        s"runtime filter did not prune: ${factScan.map(_.currentFileCount)}/$total files")
    }
  }

  test("SQL INSERT writes the table's bloom filters") {
    withCatalog { (store, cat) =>
      store.commit("t", Seq((1L, "a"), (3L, "c")).toDF("id", "s").coalesce(1),
        "create", bloomColumns = Seq("id"))
      val first = store.manifests("t").maxBy(_.version).files
      spark.sql(s"""INSERT INTO $cat.ns.t
        |SELECT /*+ COALESCE(1) */ * FROM VALUES (2L, 'b'), (4L, 'd') AS v(id, s)"""
        .stripMargin)
      val m = store.manifests("t").maxBy(_.version)
      assert(m.bloomColumns == Seq("id") && m.files.size == 2)
      // 3 lies inside the inserted file's [2, 4] range: only that file's
      // bloom can rule it out
      val (hit, _) = store.filesHitByKeys("t", "id", Seq(3L).toDF("id"))
      assert(hit == first, s"SQL-written file lost its bloom: hit=${hit.map(_.path)}")
    }
  }

  test("filterAttributes never names a column pruned from the projection") {
    withCatalog { (store, cat) =>
      // files separate best on k, but the query never reads k: advertising
      // it would make Spark's resolveRef fail the whole query at planning
      // (TPC-DS q1-shape regression: correlated agg over a projection that
      // drops the clustered column)
      store.commit("factp",
        (1L to 10000L).map(i => (i % 100, i, i * 2)).toDF("k", "seq", "v")
          .repartitionByRange(8, col("k")), "create")
      val df = spark.sql(
        s"SELECT seq, v FROM $cat.ns.factp WHERE v > 10")
      assert(df.count() > 0)
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      val scan = df.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b.scan
      }.collect { case g: org.apache.spark.sql.graft.GraftStatsScan => g }
      assert(scan.isDefined, "GraftStatsScan not found")
      val readCols = scan.get.readSchema().fieldNames.toSet
      val advertised = scan.get.filterAttributes().map(_.fieldNames().head)
      assert(advertised.forall(readCols.contains),
        s"advertised ${advertised.mkString(",")} outside projection $readCols")
    }
  }

  test("SQL partitioned CREATE TABLE + INSERT: layout, spec, exact pruning") {
    withCatalog { (store, cat) =>
      spark.sql(s"CREATE TABLE $cat.ns.ev (id BIGINT, etype STRING, amt DOUBLE) " +
        "PARTITIONED BY (etype)")
      assert(store.manifests("ev").maxBy(_.version).partitionBy == Seq("etype"))
      spark.sql(s"INSERT INTO $cat.ns.ev VALUES " +
        "(1, 'click', 1.0), (2, 'view', 2.0), (3, 'click', 3.0), (4, 'buy', 4.0)")
      val m = store.manifests("ev").maxBy(_.version)
      // one file per partition value, laid out in __p_ dirs with the
      // partition tuple recorded and folded into min=max stats
      assert(m.files.size == 3, m.files.map(_.path))
      assert(m.files.forall(_.path.contains("__p_etype=")))
      assert(m.files.flatMap(_.partitionValues.get("etype")).sorted ==
        Seq("buy", "click", "view"))
      // partition-exact pruning on both the library path and the SQL scan
      val (kept, total) = store.prunedFileCount("ev", "etype", "click", "click")
      assert(kept == 1 && total == 3)
      assert(spark.sql(s"SELECT sum(amt) FROM $cat.ns.ev WHERE etype = 'click'")
        .collect().head.getDouble(0) == 4.0)
      // a second INSERT appends new partition files, keeps old ones
      spark.sql(s"INSERT INTO $cat.ns.ev VALUES (5, 'click', 5.0)")
      val m2 = store.manifests("ev").maxBy(_.version)
      assert(m2.files.size == 4)
      assert(spark.sql(s"SELECT count(*) FROM $cat.ns.ev").as[Long].head() == 5L)
    }
  }

  test("SQL partitioned CTAS writes the partition layout in one pass") {
    withCatalog { (store, cat) =>
      store.commit("src", (1L to 100L).map(i => (i, s"g${i % 4}")).toDF("id", "grp"),
        "create")
      spark.sql(s"CREATE TABLE $cat.ns.agg PARTITIONED BY (grp) AS " +
        s"SELECT grp, id FROM $cat.ns.src")
      val m = store.manifests("agg").maxBy(_.version)
      assert(m.partitionBy == Seq("grp"))
      assert(m.files.size == 4 && m.files.forall(_.partitionValues.contains("grp")))
      val (kept, total) = store.prunedFileCount("agg", "grp", "g2", "g2")
      assert(kept == 1 && total == 4)
      assert(spark.sql(s"SELECT count(*) FROM $cat.ns.agg WHERE grp = 'g3'")
        .as[Long].head() == 25L)
    }
  }

  test("dropped-column tombstones survive appends/merges between DROP and ADD") {
    withCatalog { (store, cat) =>
      store.commit("t", Seq((1L, "secret")).toDF("id", "note"), "create")
      spark.sql(s"ALTER TABLE $cat.ns.t DROP COLUMN note")
      // every commit flavor that carries the pre-drop file forward must
      // keep the tombstone: SQL INSERT (commitStaged), library append and
      // merge-style commitFiles
      spark.sql(s"INSERT INTO $cat.ns.t VALUES (2)")
      store.append("t", Seq(Tuple1(3L)).toDF("id"))
      val kept = store.manifests("t").maxBy(_.version).files
      store.commitFiles("t", kept, Some(Seq(Tuple1(4L)).toDF("id")), "merge")
      // case-insensitive too: parquet field matching ignores case
      Seq("note", "NOTE", "Note").foreach { name =>
        val e = intercept[Exception](
          spark.sql(s"ALTER TABLE $cat.ns.t ADD COLUMN $name STRING"))
        assert(e.getMessage.contains("previously dropped"), name)
      }
      assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t").as[Long].head() == 4L)
      // a full overwrite drops the tombstone: no pre-drop file survives,
      // so the name is genuinely fresh again
      store.commit("t", Seq((9L, "new")).toDF("id", "note"), "overwrite")
      assert(store.manifests("t").maxBy(_.version).droppedColumns.isEmpty)
      assert(spark.sql(s"SELECT note FROM $cat.ns.t").as[String].collect()
        .toSeq == Seq("new"))
    }
  }

  test("SQL UPDATE/DELETE with a decimal predicate hits the right files") {
    withCatalog { (store, cat) =>
      // 4 range-clustered files on a DECIMAL(18,2) column: group selection
      // for the row-level op prunes on decimal stats — an unscaled/scaled
      // mixup here silently skips the matching rows instead of updating
      val df = (1 to 400).map(i => (i.toLong, i))
        .toDF("id", "cents")
        .withColumn("price", (col("cents") / 100).cast("decimal(18,2)"))
        .drop("cents")
        .repartitionByRange(4, col("price"))
      store.commit("t", df, "create")
      spark.sql(s"UPDATE $cat.ns.t SET id = -1 WHERE price = 0.50")
      assert(spark.sql(s"SELECT id FROM $cat.ns.t WHERE price = 0.50")
        .as[Long].head() == -1L, "UPDATE skipped the matching row")
      spark.sql(s"DELETE FROM $cat.ns.t WHERE price = 3.50")
      assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t WHERE price = 3.50")
        .as[Long].head() == 0L, "DELETE skipped the matching row")
      assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t").as[Long].head() == 399L)
    }
  }

  test("catalog sees copy-on-write snapshots (shared files) consistently") {
    withCatalog { (store, cat) =>
      store.commit("t",
        (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "s")
          .repartitionByRange(4, col("id")), "create")
      graft.core.Merge.into(store, "t")
        .using(Seq((5L, "X")).toDF("id", "s"))
        .on(Seq("id")).whenMatchedUpdate().run()
      val out = spark.sql(s"SELECT s FROM $cat.ns.t WHERE id IN (5, 50) ORDER BY id")
        .as[String].collect().toSeq
      assert(out == Seq("X", "v50"))
      assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t").as[Long].head() == 100L)
    }
  }
}
