package graft.core

import graft.SparkSpec

class TableStoreSpec extends SparkSpec {
  import spark.implicits._

  test("readIncremental returns exactly the rows added in the range") {
    val store = new TableStore(spark, tmpDir("ts"))
    store.commit("t", Seq((1, "a"), (2, "b")).toDF("id", "s"), "create")
    store.append("t", Seq((3, "c")).toDF("id", "s"))
    store.append("t", Seq((4, "d"), (5, "e")).toDF("id", "s"))
    assert(store.readIncremental("t", 1, 3).as[(Int, String)]
      .collect().sorted.toSeq == Seq((3, "c"), (4, "d"), (5, "e")))
    assert(store.readIncremental("t", 2, 3).as[(Int, String)]
      .collect().sorted.toSeq == Seq((4, "d"), (5, "e")))
    // from version 0 = everything since table creation
    assert(store.readIncremental("t", 0, 3).count() == 5)
    // empty range (from == to) = no rows, schema preserved
    val empty = store.readIncremental("t", 2, 2)
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("id", "s"))
  }

  test("snapshot versions are create-exclusive: a racing commit conflicts") {
    val store = new TableStore(spark, tmpDir("ts"))
    store.commit("t", Seq((1, "a")).toDF("id", "s"), "create")
    // Two writers racing to version 2 both reach the manifest write; the
    // first rename lands, the second must get CommitConflictException
    // (the old overwrite protocol silently dropped the first commit).
    val p = new org.apache.hadoop.fs.Path(
      store.warehouse + "/t/_manifests/2.json")
    store.atomicWriteExclusive(p, """{"version":2}""")
    intercept[TableStore.CommitConflictException] {
      store.atomicWriteExclusive(p, """{"version":2}""")
    }
  }

  test("rollbackTo restores content incl. schema; incremental refuses to span it") {
    val store = new TableStore(spark, tmpDir("ts"))
    store.commit("t", Seq((1, "a")).toDF("id", "s"), "create")
    store.append("t", Seq((2, "b")).toDF("id", "s"))
    val schema = store.read("t").schema.add("x", "int")
    store.evolveSchema("t", schema.json) // v3: schema gains x
    val v = store.rollbackTo("t", 2)
    assert(v == 4)
    assert(store.read("t").columns.toSeq == Seq("id", "s")) // schema restored
    assert(store.read("t").count() == 2)
    assert(store.readVersion("t", 3).columns.toSeq == Seq("id", "s", "x"))
    val e = intercept[IllegalArgumentException](store.readIncremental("t", 1, 4))
    assert(e.getMessage.contains("rollback"))
  }

  test("readIncremental spans metadata-only snapshots but rejects rewrites") {
    val store = new TableStore(spark, tmpDir("ts"))
    store.commit("t", Seq((1, "a")).toDF("id", "s"), "create")
    store.append("t", Seq((2, "b")).toDF("id", "s"))
    val schema = store.read("t").schema.add("x", "int")
    store.evolveSchema("t", schema.json) // v3, metadata-only
    store.append("t", Seq((3, "c", 7)).toDF("id", "s", "x")) // v4
    // alter inside the range adds no rows; pre-alter files read x as null
    assert(store.readIncremental("t", 1, 4).as[(Int, String, Option[Int])]
      .collect().sorted.toSeq == Seq((2, "b", None), (3, "c", Some(7))))
    store.compact("t") // v5 rewrites rows into new files
    val e = intercept[IllegalArgumentException] {
      store.readIncremental("t", 1, 5)
    }
    assert(e.getMessage.contains("compact"))
  }

  test("commit / read / currentVersion round-trip") {
    val store = new TableStore(spark, tmpDir("ts"))
    val v1 = store.commit("t", Seq((1, "a"), (2, "b")).toDF("id", "s"), "create")
    assert(v1 == 1 && store.currentVersion("t") == 1)
    assert(store.read("t").as[(Int, String)].collect().sorted.toSeq ==
      Seq((1, "a"), (2, "b")))
  }

  test("append creates a new snapshot containing old + new rows") {
    val store = new TableStore(spark, tmpDir("ts"))
    store.commit("t", Seq((1, "a")).toDF("id", "s"), "create")
    val v2 = store.append("t", Seq((2, "b")).toDF("id", "s"))
    assert(v2 == 2)
    assert(store.read("t").count() == 2)
    assert(store.readVersion("t", 1).count() == 1) // old snapshot immutable
  }

  test("append is metadata-only: old data files are carried over untouched") {
    val store = new TableStore(spark, tmpDir("ts"))
    store.commit("t", Seq((1, "a")).toDF("id", "s"), "create")
    val before = store.manifests("t").last.files
    val fs = new org.apache.hadoop.fs.Path(store.warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mtimes(entries: Seq[TableStore.FileEntry]) = entries.map { fe =>
      fe.path -> fs.getFileStatus(
        new org.apache.hadoop.fs.Path(store.warehouse + "/t", fe.path))
        .getModificationTime
    }.toMap
    val mtBefore = mtimes(before)
    Thread.sleep(20)
    store.append("t", Seq((2, "b")).toDF("id", "s"))
    val after = store.manifests("t").last.files
    // every v1 file entry survives verbatim and its bytes were not rewritten
    assert(before.forall(fe => after.exists(_.path == fe.path)))
    assert(mtimes(before) == mtBefore)
    assert(after.size > before.size) // plus the batch's new file(s)
    assert(store.read("t").count() == 2)
  }

  test("append aligns batch columns by name and nulls missing ones") {
    val store = new TableStore(spark, tmpDir("ts"))
    store.commit("t", Seq((1, "a")).toDF("id", "s"), "create")
    store.append("t", Seq((2, 9.5)).toDF("id", "extra")) // no "s", new "extra"
    val rows = store.read("t").select("id", "s", "extra")
      .as[(Int, Option[String], Option[Double])].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1, Some("a"), None), (2, None, Some(9.5))))
  }

  test("currentVersion falls back to max manifest when _current is absent") {
    val store = new TableStore(spark, tmpDir("ts"))
    store.commit("t", Seq(1).toDF("id"), "create")
    store.append("t", Seq(2).toDF("id"))
    val ptr = new org.apache.hadoop.fs.Path(store.warehouse + "/t", "_current")
    val fs = ptr.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(ptr, false) // simulate the delete-before-rename window
    assert(store.currentVersion("t") == 2)
    assert(store.read("t").count() == 2)
  }

  test("time travel resolves the snapshot at or before a timestamp") {
    val store = new TableStore(spark, tmpDir("ts"))
    store.commit("t", Seq((1, "a")).toDF("id", "s"), "create")
    Thread.sleep(20)
    val mid = System.currentTimeMillis()
    Thread.sleep(20)
    store.append("t", Seq((2, "b")).toDF("id", "s"))
    assert(store.readAsOf("t", mid).count() == 1)
    assert(store.readAsOf("t", System.currentTimeMillis()).count() == 2)
    intercept[IllegalArgumentException](store.readAsOf("t", 0L))
  }

  test("history lists snapshots newest-first with operation and counts") {
    val store = new TableStore(spark, tmpDir("ts"))
    store.commit("t", Seq((1, "a")).toDF("id", "s"), "create")
    store.append("t", Seq((2, "b")).toDF("id", "s"))
    val h = store.history("t")
      .select("version", "operation", "row_count").as[(Long, String, Long)]
      .collect().toSeq
    assert(h == Seq((2L, "append", 2L), (1L, "create", 1L)))
  }

  test("compact bin-packs into fewer files, preserving rows") {
    val store = new TableStore(spark, tmpDir("ts"))
    store.commit("t", (1 to 1000).toDF("id").repartition(8), "create")
    assert(store.manifests("t").last.files.size == 8)
    store.compact("t", targetFileBytes = 512L * 1024 * 1024)
    assert(store.manifests("t").last.files.size == 1)
    assert(store.read("t").count() == 1000)
    assert(store.history("t").select("operation").as[String].collect().head == "compact")
  }

  test("drop removes the table") {
    val store = new TableStore(spark, tmpDir("ts"))
    store.commit("t", Seq(1).toDF("id"), "create")
    store.drop("t")
    assert(!store.exists("t") && store.tables.isEmpty)
  }

  test("manifest stats: per-file row counts and min/max harvested from footers") {
    val store = new TableStore(spark, tmpDir("ts"))
    store.commit("t", (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "s")
      .repartitionByRange(4, org.apache.spark.sql.functions.col("id")), "create")
    val m = store.manifests("t").last
    assert(m.files.size == 4)
    assert(m.files.map(_.rowCount).sum == 100)
    assert(m.rowCount == 100)
    val idStats = m.files.flatMap(_.stats.get("id"))
    assert(idStats.size == 4 && idStats.forall(_.kind == "long"))
    assert(idStats.map(_.min.toLong).min == 1 && idStats.map(_.max.toLong).max == 100)
  }

  test("readWhere skips files outside the predicate range, result stays exact") {
    val store = new TableStore(spark, tmpDir("ts"))
    store.commit("t", (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
      .repartitionByRange(8, org.apache.spark.sql.functions.col("id")), "create")
    val (kept, total) = store.prunedFileCount("t", "id", 100L, 150L)
    assert(total == 8 && kept < total, s"expected pruning, kept $kept/$total")
    val pruned = store.readWhere("t", "id", 100L, 150L)
      .select("id").as[Long].collect().sorted.toSeq
    assert(pruned == (100L to 150L).toSeq)
  }

  test("partitioned commit: layout, spec, per-file values, exact pruning") {
    val store = new TableStore(spark, tmpDir("ts"))
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0), (4L, "c", 40.0))
      .toDF("id", "cat", "v")
    store.commitPartitioned("t", df, Seq("cat"), "create")
    val m = store.manifests("t").last
    assert(m.partitionBy == Seq("cat"))
    assert(m.files.nonEmpty && m.files.forall(_.partitionValues.contains("cat")))
    assert(m.files.forall(fe => fe.path.contains(s"__p_cat=${fe.partitionValues("cat")}")))
    // data files keep the partition column; reads are exact
    assert(store.read("t").select("id", "cat", "v").as[(Long, String, Double)]
      .collect().sortBy(_._1).toSeq ==
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0), (4L, "c", 40.0)))
    // partition pruning: only cat=a files are listed, others never touched
    val (kept, total) = store.prunedFileCount("t", "cat", "a", "a")
    val aFiles = m.files.count(_.partitionValues("cat") == "a")
    assert(kept == aFiles && kept < total, s"kept=$kept aFiles=$aFiles total=$total")
    assert(store.readWhere("t", "cat", "a", "a").select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("bloom filters prune files whose key range overlaps but keys don't") {
    val store = new TableStore(spark, tmpDir("ts"))
    // two files with fully-overlapping id ranges: odds in file 0, evens in
    // file 1 — min/max pruning alone must hit both
    val odds = (1L to 99L by 2).map(i => (i, s"o$i"))
    val evens = (2L to 100L by 2).map(i => (i, s"e$i"))
    val rdd = spark.sparkContext.parallelize(odds ++ evens, 2)
    store.commit("t", rdd.toDF("id", "s"), "create", bloomColumns = Seq("id"))
    val m = store.manifests("t").last
    assert(m.files.size == 2)
    val keys = Seq(2L).toDF("id")
    val (hit, untouched) = store.filesHitByKeys("t", "id", keys)
    assert(hit.size == 1 && untouched.size == 1,
      s"bloom should cut range-overlapped files: hit=${hit.size}")
    // and the kept file is really the one containing id=2
    assert(store.readFiles("t", hit)
      .filter(org.apache.spark.sql.functions.col("id") === 2L).count() == 1)
    // string keys go through Binary hashing
    val (hitS, _) = store.filesHitByKeys("t", "s", Seq("e2").toDF("s"))
    assert(hitS.size == 1)
  }

  test("expireSnapshots keeps time travel bounded") {
    val store = new TableStore(spark, tmpDir("ts"))
    store.commit("t", Seq(1).toDF("id"), "create")
    store.append("t", Seq(2).toDF("id"))
    store.expireSnapshots("t", keepLast = 1)
    assert(store.read("t").count() == 2)
    intercept[IllegalArgumentException](store.readVersion("t", 1))
  }

  test("expireSnapshots older_than_ms retains everything committed after the cutoff") {
    val store = new TableStore(spark, tmpDir("ts"))
    store.commit("t", Seq(1).toDF("id"), "create")
    Thread.sleep(5)
    val cutoff = System.currentTimeMillis()
    Thread.sleep(5)
    store.append("t", Seq(2).toDF("id"))
    store.append("t", Seq(3).toDF("id"))
    // keep_last alone would drop v1 AND v2; the time axis keeps v2+v3
    store.expireSnapshots("t", keepLast = 1, olderThanMs = cutoff)
    assert(store.manifests("t").map(_.version).sorted == Seq(2L, 3L))
    assert(store.readVersion("t", 2).count() == 2)
    intercept[IllegalArgumentException](store.readVersion("t", 1))
  }

  test("removeOrphanFiles collects failed-commit orphans; live snapshots unaffected") {
    val store = new TableStore(spark, tmpDir("ts"))
    store.commit("t", Seq((1, "a"), (2, "b")).toDF("id", "s"), "create")
    store.append("t", Seq((3, "c")).toDF("id", "s"))
    // Simulate a LOST optimistic commit: its data files land in v=3/ but
    // the manifest rename was won by nobody — no manifest references them,
    // so expireSnapshots can never reach them.
    val orphanDir = new org.apache.hadoop.fs.Path(store.warehouse + "/t/v=3")
    val fs = orphanDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(orphanDir)
    val orphan = new org.apache.hadoop.fs.Path(orphanDir, "part-00000.parquet")
    val out = fs.create(orphan)
    out.write("not really parquet".getBytes("UTF-8")); out.close()
    Thread.sleep(20)
    // A fresh file is protected by the age threshold (in-flight commit)...
    assert(store.removeOrphanFiles("t", olderThanMs = 3600L * 1000).isEmpty)
    assert(fs.exists(orphan))
    // ...but past the threshold it is collected
    val removed = store.removeOrphanFiles("t", olderThanMs = 0L)
    assert(removed.exists(_.endsWith("part-00000.parquet")), s"removed=$removed")
    assert(!fs.exists(orphan))
    // every live version still reads green, files intact
    assert(store.read("t").count() == 3)
    assert(store.readVersion("t", 1).count() == 2)
    val live = store.manifests("t").flatMap(_.files.map(_.path))
    assert(live.forall(p => fs.exists(
      new org.apache.hadoop.fs.Path(store.warehouse + "/t", p))))
  }

  test("decimal stats carry the scale: pruning compares true values, not unscaled") {
    import org.apache.spark.sql.functions.col
    val store = new TableStore(spark, tmpDir("ts"))
    // prices 0.01 .. 10.00: the unscaled INT64 (1..1000) and the scaled
    // value (0.01..10.00) diverge by 100×, so any unscaled-vs-scaled mixup
    // prunes every file and silently loses rows
    val df = (1 to 1000).map(i => (i.toLong, i))
      .toDF("id", "cents")
      .withColumn("price", (col("cents") / 100).cast("decimal(18,2)"))
      .drop("cents")
      .repartitionByRange(4, col("price"))
    store.commit("t", df, "create")
    val m = store.manifests("t").last
    val ps = m.files.flatMap(_.stats.get("price"))
    assert(ps.size == 4 && ps.forall(_.kind == "dec2"), s"kinds=${ps.map(_.kind)}")
    // range read at the scale boundary: 0.50..0.60 lives in the first file
    val got = store.readWhere("t", "price",
      new java.math.BigDecimal("0.50"), new java.math.BigDecimal("0.60"))
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == (50L to 60L).toSeq, s"lost rows: $got")
    val (kept, total) = store.prunedFileCount("t", "price",
      new java.math.BigDecimal("0.50"), new java.math.BigDecimal("0.60"))
    assert(kept < total, s"expected decimal pruning to skip files: $kept/$total")
    // StatsFilter path (SQL reads + row-level ops): the file holding 0.50
    // matches, files provably elsewhere don't
    val f = org.apache.spark.sql.sources.EqualTo("price", new java.math.BigDecimal("0.50"))
    val matching = m.files.count(fe => graft.core.StatsFilter.fileMayMatch(fe.stats, f))
    assert(matching >= 1 && matching < total, s"fileMayMatch kept $matching/$total")
    assert(store.readFiles("t",
      m.files.filter(fe => graft.core.StatsFilter.fileMayMatch(fe.stats, f)))
      .filter(col("price") === new java.math.BigDecimal("0.50")).count() == 1)
  }

  test("filesHitByKeys + bloom hash decimals by unscaled value (no false negatives)") {
    import org.apache.spark.sql.functions.col
    val store = new TableStore(spark, tmpDir("ts"))
    val odds = (1L to 999L by 2).map(i => (i, i))
    val evens = (2L to 1000L by 2).map(i => (i, i))
    val rdd = spark.sparkContext.parallelize(odds ++ evens, 2)
    val df = rdd.toDF("id", "cents")
      .withColumn("price", (col("cents") / 100).cast("decimal(18,2)"))
      .drop("cents")
    store.commit("t", df, "create", bloomColumns = Seq("price"))
    // 0.50 is in the even file only; ranges fully overlap so only the bloom
    // can separate — a scaled-truncated hash would miss it (false negative)
    val keys = Seq("0.50").toDF("price").select(col("price").cast("decimal(18,2)"))
    val (hit, _) = store.filesHitByKeys("t", "price", keys)
    assert(hit.nonEmpty, "bloom false negative: file containing the key was dropped")
    assert(store.readFiles("t", hit)
      .filter(col("price") === new java.math.BigDecimal("0.50")).count() == 1)
  }

  test("timestamp identity partition: stat rendering mismatch must not prune matches") {
    import org.apache.spark.sql.functions.col
    val store = new TableStore(spark, tmpDir("ts"))
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00")))
      .toDF("id", "day")
    store.commitPartitioned("t", df, Seq("day"), "create")
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // equality read through stats pruning: must return the matching row
    // (the old path compared path rendering vs toString and pruned ALL files)
    assert(store.readWhere("t", "day", ts, ts).select("id").as[Long]
      .collect().toSeq == Seq(1L))
    val f = org.apache.spark.sql.sources.EqualTo("day", ts)
    val m = store.manifests("t").last
    assert(m.files.exists(fe => graft.core.StatsFilter.fileMayMatch(fe.stats, f)),
      "every file pruned for a matching timestamp partition value")
  }

  test("filesHitByKeys ranges each file in its own stat-kind domain") {
    import org.apache.spark.sql.functions.col
    val store = new TableStore(spark, tmpDir("ts"))
    // partitioned create → date column gets partition-derived "string"
    // stats; a later SPEC-LESS commit (append now inherits the partition
    // spec, so reach for commitFiles directly — the external-writer /
    // legacy-file shape) → footer "long" (epoch-day) stats. One key per
    // commit: both files must be hit despite divergent kinds (applying
    // either file's kind to the other would compare a "2024-01-0x" string
    // against an epoch-day integer and wrongly prune).
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    store.commitPartitioned("t", Seq((1L, d1)).toDF("id", "day"), Seq("day"), "create")
    store.commitFiles("t", store.manifests("t").maxBy(_.version).files,
      Some(Seq((2L, d2)).toDF("id", "day")), "append")
    val m = store.manifests("t").maxBy(_.version)
    val kinds = m.files.flatMap(_.stats.get("day")).map(_.kind).distinct
    assert(kinds.size == 2, s"fixture should have divergent kinds, got $kinds")
    val (hit, untouched) = store.filesHitByKeys("t", "day",
      Seq(d1, d2).toDF("day"))
    assert(hit.size == 2 && untouched.isEmpty,
      s"both files must be hit; got hit=${hit.map(_.path)} untouched=${untouched.map(_.path)}")
    // and a key matching neither commit prunes both (per-domain ranges
    // stay selective, not just conservative)
    val (hitNone, untouchedNone) = store.filesHitByKeys("t", "day",
      Seq(java.sql.Date.valueOf("2030-06-06")).toDF("day"))
    assert(hitNone.isEmpty && untouchedNone.size == 2)
  }

  test("rewriteSorted makes range pruning effective; content unchanged") {
    import org.apache.spark.sql.functions.col
    val store = new TableStore(spark, tmpDir("ts"))
    // hash-scatter: every file spans the whole id domain → nothing prunes
    val df = (1L to 4000L).toDF("id")
      .withColumn("payload", org.apache.spark.sql.functions.md5(col("id").cast("string")))
    store.commit("t", df.repartition(8, col("payload")), "create")
    val (kept0, total0) = store.prunedFileCount("t", "id", 100L, 200L)
    assert(kept0 == total0 && total0 == 8, s"scattered layout must not prune ($kept0/$total0)")
    val bytes = store.manifests("t").maxBy(_.version).files.map(_.sizeBytes).sum
    store.rewriteSorted("t", Seq("id"), targetFileBytes = math.max(1L, bytes / 8))
    val (kept1, total1) = store.prunedFileCount("t", "id", 100L, 200L)
    assert(total1 > 1 && kept1 < total1,
      s"sorted layout must prune: kept=$kept1 of $total1")
    // content identical, range read exact
    assert(store.read("t").count() == 4000L)
    assert(store.readWhere("t", "id", 100L, 200L).count() == 101L)
    assert(store.manifests("t").maxBy(_.version).operation == "rewrite_sorted")
  }

  test("write-audit-publish: staged rows invisible until published; audit + abandon work") {
    val store = new TableStore(spark, tmpDir("ts"))
    store.commit("t", Seq((1L, "a"), (2L, "b")).toDF("id", "s"), "create")
    val v1 = store.currentVersion("t")
    val id = store.stageAppend("t", Seq((3L, "c"), (4L, "d")).toDF("id", "s"))
    // isolation: readers see nothing, no version slot consumed
    assert(store.read("t").count() == 2)
    assert(store.currentVersion("t") == v1)
    assert(store.stagedIds("t") == Seq(id))
    // audit: the staged candidate is exactly what was written
    assert(store.readStaged("t", id).as[(Long, String)].collect().sorted.toSeq
      == Seq((3L, "c"), (4L, "d")))
    // a concurrent append between stage and publish must survive publish
    store.append("t", Seq((5L, "e")).toDF("id", "s"))
    val v = store.publishStaged("t", id)
    assert(v == store.currentVersion("t"))
    assert(store.read("t").as[(Long, String)].collect().sorted.toSeq
      == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
    assert(store.stagedIds("t").isEmpty, "published stage manifest is removed")
    // time travel to the pre-publish version still excludes staged rows
    assert(store.readVersion("t", v - 1).count() == 3)

    // abandon: files + side manifest gone, table untouched
    val id2 = store.stageAppend("t", Seq((9L, "z")).toDF("id", "s"))
    store.abandonStaged("t", id2)
    assert(store.stagedIds("t").isEmpty)
    assert(store.read("t").count() == 5)
    // crashed stage (files but no side manifest) is collected as orphan,
    // while published stage files (referenced by a live manifest) survive
    val f = new org.apache.hadoop.fs.Path(store.warehouse + "/t/stage-dead/part-x.parquet")
    val out = f.getFileSystem(spark.sparkContext.hadoopConfiguration).create(f)
    out.write(Array[Byte](1)); out.close()
    val deleted = store.removeOrphanFiles("t", olderThanMs = -1000)
    assert(deleted.exists(_.startsWith("stage-dead/")), s"dead stage not collected: $deleted")
    assert(store.read("t").count() == 5, "published stage files must survive orphan GC")
  }

  test("rewriteZOrder prunes on BOTH clustered columns; content unchanged") {
    import org.apache.spark.sql.functions.{col, md5}
    val store = new TableStore(spark, tmpDir("ts"))
    // two independent uniform dims — the layout where single-column sort
    // can only ever skip on its leading column
    val df = (0L until 4096L).toDF("i")
      .select((col("i") % 64).as("x"), (col("i") / 64).cast("long").as("y"),
        md5(col("i").cast("string")).as("payload"))
    store.commit("t", df.repartition(8, col("payload")), "create")
    val (kx0, t0) = store.prunedFileCount("t", "x", 0L, 7L)
    val (ky0, _) = store.prunedFileCount("t", "y", 0L, 7L)
    assert(kx0 == t0 && ky0 == t0, "scattered layout must not prune")
    val bytes = store.manifests("t").maxBy(_.version).files.map(_.sizeBytes).sum
    store.rewriteZOrder("t", Seq("x", "y"), bitsPerCol = 8,
      targetFileBytes = math.max(1L, bytes / 16))
    val (kx1, t1) = store.prunedFileCount("t", "x", 0L, 7L)
    val (ky1, _) = store.prunedFileCount("t", "y", 0L, 7L)
    assert(t1 >= 8, s"want >= 8 files after rewrite, got $t1")
    assert(kx1 < t1 && ky1 < t1,
      s"z-order must prune on both dims: x=$kx1/$t1 y=$ky1/$t1")
    assert(store.read("t").count() == 4096L)
    assert(store.readWhere("t", "x", 0L, 7L).count() == 8 * 64L)
    assert(store.readWhere("t", "y", 0L, 7L).count() == 8 * 64L)
    assert(store.manifests("t").maxBy(_.version).operation == "rewrite_zorder")
  }

  test("bucketed layout: key lookups hit only their buckets; null keys safe") {
    import org.apache.spark.sql.functions.{col, md5, concat_ws}
    val store = new TableStore(spark, tmpDir("ts"))
    // random md5 surrogate keys: min/max ranges span every file, so only
    // the bucket transform (or blooms) can prune
    val df = (1L to 2000L).toDF("i")
      .select(md5(concat_ws("#", col("i"))).as("k"), col("i").as("v"))
    store.commitBucketed("t", df, "k", numBuckets = 16, "create")
    val m = store.manifests("t").maxBy(_.version)
    assert(m.partitionBy == Seq("__bucket16_k"))
    assert(m.files.flatMap(_.partitionValues.get("__bucket16_k")).distinct.size == 16)
    // 3 keys → at most 3 buckets hit
    val probe = df.filter(col("v").isin(5L, 900L, 1500L)).select("k")
    val (hit, untouched) = store.filesHitByKeys("t", "k", probe)
    val hitBuckets = hit.flatMap(_.partitionValues.get("__bucket16_k")).distinct
    assert(hit.nonEmpty && hitBuckets.size <= 3,
      s"3 keys must hit <=3 buckets, got $hitBuckets")
    assert(hit.size + untouched.size == m.files.size)
    assert(untouched.size > hit.size, "most files must be untouched")
    // correctness: the hit files contain ALL probed keys
    val found = readFilesOf(store, "t", hit).filter(col("k").isin(
      probe.collect().map(_.getString(0)).toSeq: _*)).count()
    assert(found == 3)
    // null keys hit nothing (not NPE)
    import spark.implicits._
    val (hitN, _) = store.filesHitByKeys("t", "k",
      Seq[Option[String]](None).toDF("k"))
    assert(hitN.isEmpty)
    // a null-BUCKET file (writer skipped the bucket column) is
    // conservatively hit by ANY key — skipping it would lose merge rows
    store.append("t", Seq(("zzz-unbucketed", 9999L)).toDF("k", "v")
      .withColumn("__bucket16_k",
        org.apache.spark.sql.functions.lit(null).cast("long")))
    val (hit1, _) = store.filesHitByKeys("t", "k",
      df.filter(col("v") === 5L).select("k"))
    assert(hit1.exists(_.partitionValues.get("__bucket16_k")
        .contains("__HIVE_DEFAULT_PARTITION__")),
      "null-bucket file must be conservatively hit")
    // read-back equals the source plus the one appended null-bucket row
    assert(store.read("t").count() == 2001)
  }

  private def readFilesOf(store: TableStore, table: String,
      files: Seq[TableStore.FileEntry]) = store.readFiles(table, files)

  test("merge-on-read: O(churn) upserts/deletes, correct reads, compact materializes") {
    import org.apache.spark.sql.functions.col
    val store = new TableStore(spark, tmpDir("ts"))
    store.commit("t", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), "create")
    val v1Files = store.manifests("t").maxBy(_.version).files.map(_.path).toSet
    // upsert: new image of 2, brand-new 4 — NO prior file rewritten
    store.upsertMoR("t", Seq((2L, "b2"), (4L, "d")).toDF("id", "s"), Seq("id"))
    val m2 = store.manifests("t").maxBy(_.version)
    assert(v1Files.subsetOf(m2.files.map(_.path).toSet), "no rewrite on upsert")
    assert(m2.deleteFiles.nonEmpty && m2.deleteFiles.forall(_.seq == 2L))
    assert(store.read("t").as[(Long, String)].collect().sorted.toSeq
      == Seq((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "d")))
    // second upsert of the SAME key: only the newest image survives
    store.upsertMoR("t", Seq((2L, "b3")).toDF("id", "s"), Seq("id"))
    assert(store.read("t").as[(Long, String)].collect().sorted.toSeq
      == Seq((1L, "a"), (2L, "b3"), (3L, "c"), (4L, "d")))
    // MoR delete: nothing rewritten, row gone at read
    store.deleteKeysMoR("t", Seq(Tuple1(1L)).toDF("id"), Seq("id"))
    assert(store.read("t").as[(Long, String)].collect().sorted.toSeq
      == Seq((2L, "b3"), (3L, "c"), (4L, "d")))
    // time travel still sees the pre-delete states through their views
    assert(store.readVersion("t", 2).as[(Long, String)].collect().sorted.toSeq
      == Seq((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "d")))
    assert(store.readVersion("t", 1).count() == 3)
    // readWhere prunes files AND applies deletes
    assert(store.readWhere("t", "id", 2L, 4L).as[(Long, String)]
      .collect().sorted.toSeq == Seq((2L, "b3"), (3L, "c"), (4L, "d")))
    // incremental refuses to span MoR snapshots by default
    intercept[IllegalArgumentException](store.readIncremental("t", 1, 4))
    // changelog refuses until materialized
    intercept[IllegalArgumentException](store.readChangelog("t", 0, 4))
    // append on top of MoR keeps the deletes effective
    store.append("t", Seq((5L, "e")).toDF("id", "s"))
    assert(store.read("t").as[(Long, String)].collect().sorted.toSeq
      == Seq((2L, "b3"), (3L, "c"), (4L, "d"), (5L, "e")))
    // compact materializes: deletes gone, content identical, CoW again
    store.compact("t")
    val mc = store.manifests("t").maxBy(_.version)
    assert(mc.deleteFiles.isEmpty)
    assert(store.read("t").as[(Long, String)].collect().sorted.toSeq
      == Seq((2L, "b3"), (3L, "c"), (4L, "d"), (5L, "e")))
    // expiry after materialization reclaims the old delete files safely
    store.expireSnapshots("t", keepLast = 1)
    assert(store.read("t").count() == 4)
  }

  test("compactDeletes consolidates the MoR overlay without touching data") {
    val store = new TableStore(spark, tmpDir("ts"))
    store.commit("t", (1 to 40).map(i => (i.toLong, s"s$i")).toDF("id", "s"),
      "create")                                                       // seq 1
    // churn: one upsert (data at seq 2), then three delete-only commits
    // (seqs 3,4,5 — no data files, so their classes all merge to seq 3)
    store.upsertMoR("t", Seq((1L, "u1"), (2L, "u2")).toDF("id", "s"), Seq("id"))
    store.deleteKeysMoR("t", Seq(Tuple1(11L)).toDF("id"), Seq("id"))
    store.deleteKeysMoR("t", Seq(Tuple1(12L)).toDF("id"), Seq("id"))
    // duplicate key 11 at a later seq: must collapse to its max
    store.deleteKeysMoR("t", Seq(Tuple1(11L), Tuple1(13L)).toDF("id"), Seq("id"))
    val before = store.manifests("t").maxBy(_.version)
    val expect = store.read("t").as[(Long, String)].collect().toSet
    val dataBefore = before.files.map(_.path).toSet

    val v = store.compactDeletes("t")
    val after = store.manifests("t").maxBy(_.version)
    assert(after.version == v)
    assert(after.files.map(_.path).toSet == dataBefore, "no data file touched")
    assert(after.deleteFiles.size < before.deleteFiles.size)
    // classes: upsert keys (seq 2 → class 2), all delete-only seqs (3,4,5
    // → class 3, since the greatest smaller data seq is 2)
    assert(after.deleteFiles.map(_.seq).distinct.sorted == Seq(2L, 3L))
    assert(store.read("t").as[(Long, String)].collect().toSet == expect)
    // upserting again on the consolidated overlay still works
    store.upsertMoR("t", Seq((3L, "u3")).toDF("id", "s"), Seq("id"))
    assert(store.read("t").as[(Long, String)].collect().toSet ==
      expect - ((3L, "s3")) + ((3L, "u3")))
    // a full rewrite still sheds the (consolidated) overlay
    store.compact("t")
    assert(store.manifests("t").maxBy(_.version).deleteFiles.isEmpty)
  }

  test("compactDeletes drops masks made dangling by earlier rewrites") {
    val store = new TableStore(spark, tmpDir("ts"))
    store.commit("t", (1 to 10).map(i => (i.toLong, i * 1.0)).toDF("id", "v"),
      "create")
    store.deleteKeysMoR("t", Seq(Tuple1(5L)).toDF("id"), Seq("id"))
    // no-op on a table with no overlay after compaction materializes it
    store.compact("t")
    val v0 = store.manifests("t").maxBy(_.version).version
    assert(store.compactDeletes("t") == v0, "no overlay → no new snapshot")
  }

  test("readChangelog emits row-level deltas; pure compaction emits nothing") {
    import org.apache.spark.sql.functions.col
    val store = new TableStore(spark, tmpDir("ts"))
    store.commit("t", Seq((1L, "a"), (2L, "b")).toDF("id", "s"), "create") // v1
    store.append("t", Seq((3L, "c")).toDF("id", "s"))                      // v2
    // full overwrite changing ONE row: content diff must cancel the rest
    store.commit("t", Seq((1L, "a"), (2L, "b2"), (3L, "c")).toDF("id", "s"),
      "overwrite")                                                         // v3
    store.compact("t")                                                     // v4: rows only move
    val cl = store.readChangelog("t", 0, 4)
      .select(col("id").cast("long"), col("s"), col("_change_type"), col("_commit_version"))
      .as[(Long, String, String, Long)].collect().toSet
    assert(cl == Set(
      (1L, "a", "insert", 1L), (2L, "b", "insert", 1L),
      (3L, "c", "insert", 2L),
      (2L, "b", "delete", 3L), (2L, "b2", "insert", 3L)),
      s"got $cl")
    // windowed feed: only the v3 step
    val w = store.readChangelog("t", 2, 3)
      .select(col("id").cast("long"), col("_change_type"))
      .as[(Long, String)].collect().toSet
    assert(w == Set((2L, "insert"), (2L, "delete")))
    // empty range
    assert(store.readChangelog("t", 4, 4).count() == 0)
  }

  test("tags: named time travel, create-exclusive, survive snapshot expiry") {
    val store = new TableStore(spark, tmpDir("ts"))
    store.commit("t", Seq((1L, "a")).toDF("id", "s"), "create")
    store.createTag("t", "release-1", 1L)
    store.append("t", Seq((2L, "b")).toDF("id", "s"))
    store.append("t", Seq((3L, "c")).toDF("id", "s"))
    assert(store.readTag("t", "release-1").count() == 1)
    assert(store.tags("t") == Seq("release-1" -> 1L))
    // create-exclusive: silent re-pointing refused
    intercept[TableStore.CommitConflictException] {
      store.createTag("t", "release-1", 2L)
    }
    // numeric names collide with version literals in SQL — refused
    intercept[IllegalArgumentException](store.createTag("t", "42", 1L))
    intercept[IllegalArgumentException](store.createTag("t", "nope", 99L))
    // expiry keeps the tagged version alive alongside the latest
    store.expireSnapshots("t", keepLast = 1)
    assert(store.manifests("t").map(_.version).sorted == Seq(1L, 3L))
    assert(store.readTag("t", "release-1").count() == 1)
    assert(store.read("t").count() == 3)
    // after dropTag, expiry reclaims it
    store.dropTag("t", "release-1")
    store.expireSnapshots("t", keepLast = 1)
    assert(store.manifests("t").map(_.version) == Seq(3L))
  }

  test("publishStaged refuses after schema change; re-stage required") {
    val store = new TableStore(spark, tmpDir("ts"))
    store.commit("t", Seq((1L, "a")).toDF("id", "s"), "create")
    val id = store.stageAppend("t", Seq((2L, "b")).toDF("id", "s"))
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.DataType.fromJson(
        store.manifests("t").maxBy(_.version).schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType].fields :+
        org.apache.spark.sql.types.StructField("extra",
          org.apache.spark.sql.types.StringType))
    store.evolveSchema("t", schema.json)
    intercept[IllegalArgumentException] {
      store.publishStaged("t", id)
    }
    store.abandonStaged("t", id)
  }

  test("addFiles adopts external parquet without copying; expiry never deletes it") {
    val store = new TableStore(spark, tmpDir("ts"))
    // an "existing corpus" outside the warehouse
    val ext = tmpDir("ext_corpus")
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "s")
      .repartition(2).write.mode("overwrite").parquet(ext)
    val v = store.addFiles("t", ext)
    assert(v == 1)
    val m = store.manifests("t").maxBy(_.version)
    assert(m.operation == "add_files")
    assert(m.files.nonEmpty && m.files.forall(fe => TableStore.isExternalPath(fe.path)))
    assert(m.rowCount == 3)
    assert(store.read("t").as[(Int, String)].collect().sorted.toSeq ==
      Seq((1, "a"), (2, "b"), (3, "c")))
    // footer stats were harvested: min/max pruning works on adopted files
    val (kept, total) = store.prunedFileCount("t", "id", 3, 3)
    assert(total == 2 && kept == 1)
    // native append composes; adopted files are carried as metadata
    store.append("t", Seq((4, "d")).toDF("id", "s"))
    assert(store.read("t").count() == 4)
    // expiry of the adopted-only snapshot must not reach outside the table
    store.expireSnapshots("t", keepLast = 1)
    val extFs = new org.apache.hadoop.fs.Path(ext)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(extFs.listStatus(new org.apache.hadoop.fs.Path(ext))
      .exists(_.getPath.getName.endsWith(".parquet")))
    assert(store.read("t").count() == 4)
  }

  test("cloneTable is zero-copy; clone and source evolve independently") {
    val store = new TableStore(spark, tmpDir("ts"))
    store.commit("src", Seq((1L, "a"), (2L, "b")).toDF("id", "s"), "create")
    store.cloneTable("src", "dst")
    val cm = store.manifests("dst").maxBy(_.version)
    assert(cm.operation == "clone" && cm.rowCount == 2)
    assert(cm.files.forall(fe => TableStore.isExternalPath(fe.path)))
    assert(store.read("dst").as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // independent evolution: writes to one never show in the other
    store.append("dst", Seq((3L, "c")).toDF("id", "s"))
    store.append("src", Seq((9L, "z")).toDF("id", "s"))
    assert(store.read("dst").count() == 3)
    assert(store.read("src").count() == 3)
    assert(store.read("dst").filter($"id" === 9L).count() == 0)
    // clone maintenance never deletes borrowed source files
    store.commit("dst", Seq((7L, "q")).toDF("id", "s"), "create") // rewrite
    store.expireSnapshots("dst", keepLast = 1)
    assert(store.read("src").count() == 3) // source intact
    // a MoR source must be compacted first
    store.upsertMoR("src", Seq((1L, "a2")).toDF("id", "s"), Seq("id"))
    val e = intercept[IllegalArgumentException] {
      store.cloneTable("src", "dst2")
    }
    assert(e.getMessage.contains("compact"))
  }

  test("compactWhere rewrites only the overlapping region; content unchanged") {
    val store = new TableStore(spark, tmpDir("ts"))
    // three appends with disjoint id ranges → three range-disjoint files
    store.commit("t", (1 to 100).map(i => (i.toLong, s"a$i")).toDF("id", "s")
      .coalesce(1), "create")
    store.append("t", (101 to 200).map(i => (i.toLong, s"a$i")).toDF("id", "s")
      .coalesce(1))
    store.append("t", (201 to 300).map(i => (i.toLong, s"a$i")).toDF("id", "s")
      .coalesce(1))
    val before = store.manifests("t").maxBy(_.version)
    assert(before.files.size == 3)
    // compact only the [1, 200] region: the third file must be carried
    // byte-identically
    val keptPath = before.files.map(_.path).max // v=3 file sorts last
    store.compactWhere("t", "id", 1L, 200L)
    val after = store.manifests("t").maxBy(_.version)
    assert(after.files.map(_.path).contains(keptPath))
    assert(after.files.size == 2) // two small files packed into one + carried
    assert(store.read("t").count() == 300)
    assert(store.read("t").agg(org.apache.spark.sql.functions.sum("id"))
      .head.getLong(0) == (1L to 300L).sum)
    // no-op outside any range
    val v = store.compactWhere("t", "id", 5000L, 6000L)
    assert(v == after.version)
  }

  test("evolveSchema allows widening promotions and rejects narrowing") {
    val store = new TableStore(spark, tmpDir("ts"))
    store.commit("t", Seq((1, 1.5f), (2, 2.5f)).toDF("id", "v"), "create")
    val widened = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType)))
    store.evolveSchema("t", widened.json)
    // old int/float files read through the widened schema
    assert(store.read("t").as[(Long, Double)].collect().sorted.toSeq ==
      Seq((1L, 1.5), (2L, 2.5)))
    store.append("t", Seq((3L, 3.5)).toDF("id", "v"))
    assert(store.read("t").count() == 3)
    val narrowed = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType)))
    val e = intercept[IllegalArgumentException] {
      store.evolveSchema("t", narrowed.json)
    }
    assert(e.getMessage.contains("unsafe type change"))
  }

  test("addFiles accepts a single file and an existing table (metadata append)") {
    val store = new TableStore(spark, tmpDir("ts"))
    val ext = tmpDir("ext_one")
    Seq((10, "x"), (11, "y")).toDF("id", "s")
      .coalesce(1).write.mode("overwrite").parquet(ext)
    val one = new org.apache.hadoop.fs.Path(ext)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(new org.apache.hadoop.fs.Path(ext))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    store.commit("t", Seq((1, "a")).toDF("id", "s"), "create")
    val v = store.addFiles("t", one.toString)
    assert(v == 2)
    assert(store.read("t").count() == 3)
    // adopted rows are visible to time travel and incremental reads
    assert(store.readVersion("t", 1).count() == 1)
    assert(store.readIncremental("t", 1, 2).count() == 2)
  }

  /** SQL query executions `body` runs, read off a QueryExecutionListener.
    * A marker query after `body` flushes the listener bus: events arrive
    * in order, so once the marker is seen every earlier one has been. */
  private def sqlExecutions(body: => Unit): Int = {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.sql.execution.QueryExecution
    val marker = "__executions_marker__"
    val execs = new AtomicInteger(0)
    val seen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def record(qe: QueryExecution): Unit =
        if (qe.logical.toString.contains(marker)) seen.countDown()
        else { execs.incrementAndGet(); () }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        record(qe)
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).select(org.apache.spark.sql.functions.lit(marker)).collect()
      assert(seen.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the marker query")
      execs.get()
    } finally spark.listenerManager.unregister(listener)
  }

  /** Two files whose id ranges fully overlap (odds, evens), with a bloom
    * on `id`: only the bloom separates them. */
  private def oddEvenBloomTable(store: TableStore): Unit = {
    val odds = (1L to 99L by 2).map(i => (i, s"o$i"))
    val evens = (2L to 100L by 2).map(i => (i, s"e$i"))
    store.commit("t", spark.sparkContext.parallelize(odds ++ evens, 2)
      .toDF("id", "s"), "create", bloomColumns = Seq("id"))
    assert(store.manifests("t").maxBy(_.version).files.size == 2)
  }

  test("filesHitByKeys decides a bounded key set with one SQL execution") {
    val store = new TableStore(spark, tmpDir("ts"))
    oddEvenBloomTable(store)
    val keys = Seq(2L, 4L).toDF("id")
    var hit = Seq.empty[TableStore.FileEntry]
    val n = sqlExecutions { hit = store.filesHitByKeys("t", "id", keys)._1 }
    assert(n == 1, s"expected one key collect, ran $n SQL executions")
    // the range test alone hits both files; the bloom keeps only the evens
    assert(hit.size == 1 && store.readFiles("t", hit)
      .filter(org.apache.spark.sql.functions.col("id") === 2L).count() == 1)
  }

  test("filesHitByKeys above bloomMaxKeys falls back to the range join, without blooms") {
    val store = new TableStore(spark, tmpDir("ts"))
    oddEvenBloomTable(store)
    val keys = Seq(2L, 4L, 6L).toDF("id")
    assert(store.filesHitByKeys("t", "id", keys)._1.size == 1)
    store.bloomMaxKeys = 2
    var result = (Seq.empty[TableStore.FileEntry], Seq.empty[TableStore.FileEntry])
    val n = sqlExecutions { result = store.filesHitByKeys("t", "id", keys) }
    // the bounded key collect, then one range join for the one stat kind
    assert(n == 2, s"expected key collect + range join, ran $n SQL executions")
    assert(result._1.size == 2 && result._2.isEmpty,
      "a key set above the bound is range-pruned only: both files overlap")
  }

  test("filesHitByKeys driver decisions equal the range join on bloom-less files") {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.DataFrame
    // Each layout: 4 range-clustered files (disjoint ranges); keys land in
    // some files, in a gap or beyond every file. The range join (forced
    // with bloomMaxKeys = 0) is the reference the driver path must match.
    def check(name: String, store: TableStore, column: String, keys: DataFrame): Unit = {
      val (hit, untouched) = store.filesHitByKeys("t", column, keys)
      store.bloomMaxKeys = 0
      val (hitJ, untouchedJ) =
        try store.filesHitByKeys("t", column, keys)
        finally store.bloomMaxKeys = 10000
      assert(hit.map(_.path).toSet == hitJ.map(_.path).toSet &&
        untouched.map(_.path).toSet == untouchedJ.map(_.path).toSet,
        s"$name: driver hit ${hit.map(_.path)} vs range join ${hitJ.map(_.path)}")
      assert(hit.nonEmpty && untouched.nonEmpty, s"$name: pruning should be selective")
    }
    def layout(name: String, values: DataFrame, keys: DataFrame): Unit = {
      val store = new TableStore(spark, tmpDir("ts"))
      store.commit("t", values.repartitionByRange(4, col("v")), "create")
      assert(store.manifests("t").maxBy(_.version).files.size == 4, name)
      check(name, store, "v", keys)
    }
    val ids = (1L to 400L).toDF("i")
    layout("long", ids.select(col("i").as("v")), Seq(5L, 6L, 1000L).toDF("v"))
    layout("double", ids.select((col("i") * 1.5).as("v")),
      Seq(7.5, 8.25, 1000.0).toDF("v"))
    layout("string", ids.select(org.apache.spark.sql.functions
      .format_string("k%04d", col("i")).as("v")), Seq("k0005", "k00051", "zz").toDF("v"))
    layout("decimal", ids.select((col("i") / 100).cast("decimal(18,2)").as("v")),
      Seq("0.05", "0.06", "99.99").toDF("v").select(col("v").cast("decimal(18,2)")))
    layout("timestamp",
      ids.select(org.apache.spark.sql.functions.timestamp_seconds(
        col("i") + lit(1704067200L)).as("v")),
      Seq(java.sql.Timestamp.valueOf("2024-01-01 00:00:05"),
        java.sql.Timestamp.valueOf("2030-01-01 00:00:00")).toDF("v"))
    layout("date",
      ids.select(org.apache.spark.sql.functions.date_add(
        lit(java.sql.Date.valueOf("2024-01-01")), col("i").cast("int")).as("v")),
      Seq(java.sql.Date.valueOf("2024-01-06"), java.sql.Date.valueOf("2030-01-01"))
        .toDF("v"))
    // date: partition-derived "string" stats next to footer "long"
    // (epoch-day) stats of a spec-less commit
    val store = new TableStore(spark, tmpDir("ts"))
    val days = (1 to 3).map(i => java.sql.Date.valueOf(s"2024-01-0$i"))
    store.commitPartitioned("t", days.take(2).zipWithIndex
      .map { case (d, i) => (i.toLong, d) }.toDF("id", "day"), Seq("day"), "create")
    store.commitFiles("t", store.manifests("t").maxBy(_.version).files,
      Some(Seq((9L, days(2))).toDF("id", "day")), "append")
    assert(store.manifests("t").maxBy(_.version).files
      .flatMap(_.stats.get("day")).map(_.kind).distinct.size == 2)
    check("date, mixed stat kinds", store, "day", Seq(days(0), days(2)).toDF("day"))
  }

  test("bloom columns carry into copy-on-write rewrites") {
    val store = new TableStore(spark, tmpDir("ts"))
    oddEvenBloomTable(store)
    val oddFile = store.filesHitByKeys("t", "id", Seq(3L).toDF("id"))._1
    assert(oddFile.size == 1)
    Merge.into(store, "t")
      .using(Seq((2L, "updated")).toDF("id", "s"))
      .on(Seq("id"))
      .whenMatchedUpdate()
      .run()
    val m = store.manifests("t").maxBy(_.version)
    assert(m.operation == "merge" && m.bloomColumns == Seq("id"))
    assert(m.files.contains(oddFile.head), "the odd file must carry untouched")
    // an odd key overlaps the rewritten evens file's range: only a bloom
    // written by the merge can rule that file out
    val (hit, untouched) = store.filesHitByKeys("t", "id", Seq(3L).toDF("id"))
    assert(hit == oddFile && untouched.nonEmpty,
      s"rewritten files lost their blooms: hit=${hit.map(_.path)}")
    assert(store.read("t").filter(org.apache.spark.sql.functions.col("s") === "updated")
      .count() == 1)
  }
}
