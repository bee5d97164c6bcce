package graft.core

import graft.GraftSession.withConf
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Manifest file-list segmentation: append-shaped commits persist the
  * inherited file list as references to immutable shared segments, so
  * manifest WRITE cost is O(new files) and metadata storage across
  * versions is O(total files) — while every reader still sees a fully
  * resolved file list (reads, time travel, expiry, compaction are all
  * oblivious). */
class ManifestSegmentSpec extends SparkSpec {
  import spark.implicits._

  /** A fresh store whose commits roll segments at `roll` files; the
    * manifest confs are restored when `f` returns. */
  private def withStore(roll: Int, confs: (String, String)*)(
      f: TableStore => Unit): Unit =
    withConf(spark,
      ("spark.graft.manifest.segmentRollThreshold" -> roll.toString) +: confs: _*)(
      f(new TableStore(spark, tmpDir("seg"))))

  private def manifestText(store: TableStore, table: String, v: Long): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      store.warehouse, table, "_manifests", s"$v.json")))

  private def segmentDir(store: TableStore, table: String) =
    java.nio.file.Paths.get(store.warehouse, table, "_manifests", "segments")

  private def inlineCount(txt: String): Int =
    "\"path\":".r.findAllIn(txt.substring(txt.indexOf("\"files\":"))).length

  test("appends roll shared prefixes into segments; reads stay exact") {
    withStore(roll = 4) { store =>
      store.commit("t", Seq((1L, "a")).toDF("id", "s").coalesce(1), "create")
      (2 to 12).foreach(i =>
        store.append("t", Seq((i.toLong, s"s$i")).toDF("id", "s").coalesce(1)))
      val m = store.manifests("t").maxBy(_.version)
      assert(m.files.size == 12)
      // the latest manifest must NOT re-serialize all 12 files inline
      val txt = manifestText(store, "t", m.version)
      assert(txt.contains("\"fileSegments\""), txt.take(200))
      assert(inlineCount(txt) < 8, s"expected a short inline tail: $txt")
      assert(java.nio.file.Files.list(segmentDir(store, "t")).count() >= 1)
      // resolved reads: full table and a mid-chain time travel
      assert(store.read("t").count() == 12)
      assert(store.read("t").agg(sum(col("id"))).head.getLong(0) == 78L)
      assert(store.readVersion("t", 7L).count() == 7)
    }
  }

  test("resolution survives a cold cache (fresh-process read path)") {
    withStore(roll = 3) { store =>
      store.commit("t", Seq((1L, "a")).toDF("id", "s").coalesce(1), "create")
      (2 to 9).foreach(i =>
        store.append("t", Seq((i.toLong, s"s$i")).toDF("id", "s").coalesce(1)))
      TableStore.manifestCache.clear()
      TableStore.segRefCache.clear()
      TableStore.segmentCache.clear()
      val reread = new TableStore(spark, store.warehouse)
      assert(reread.read("t").count() == 9)
      assert(reread.manifests("t").maxBy(_.version).files.size == 9)
      // and the NEXT append extends the chain parsed from disk
      reread.append("t", Seq((10L, "s10")).toDF("id", "s").coalesce(1))
      assert(reread.read("t").count() == 10)
    }
  }

  test("rewrite-shaped commits fall back inline and stay correct") {
    withStore(roll = 3) { store =>
      store.commit("t", (1 to 20).map(i => (i.toLong, i % 3)).toDF("id", "m")
        .repartition(4), "create")
      (1 to 6).foreach(i =>
        store.append("t", Seq((100L + i, i % 3)).toDF("id", "m").coalesce(1)))
      store.compact("t")
      val m = store.manifests("t").maxBy(_.version)
      val txt = manifestText(store, "t", m.version)
      assert(!txt.contains("\"fileSegments\""),
        "a full rewrite must not inherit segments")
      assert(store.read("t").count() == 26)
    }
  }

  test("expiry GCs unreferenced segments, keeps referenced ones") {
    withStore(roll = 2, "spark.graft.manifest.segmentGcGraceMs" -> "0") { store =>
      store.commit("t", Seq((1L, "a")).toDF("id", "s").coalesce(1), "create")
      (2 to 8).foreach(i =>
        store.append("t", Seq((i.toLong, s"s$i")).toDF("id", "s").coalesce(1)))
      assert(java.nio.file.Files.list(segmentDir(store, "t")).count() >= 2)
      // keep the last TWO segmented snapshots: their segments must survive
      store.expireSnapshots("t", keepLast = 2)
      assert(store.read("t").count() == 8)
      assert(store.readVersion("t", 7L).count() == 7)
      // now compact (inline manifest) and expire down to it: every segment
      // is unreferenced and must be collected
      store.compact("t")
      store.expireSnapshots("t", keepLast = 1)
      assert(java.nio.file.Files.list(segmentDir(store, "t")).count() == 0)
      assert(store.read("t").count() == 8)
    }
  }

  test("append manifest write cost is O(new files): inline tail bounded") {
    withStore(roll = 8) { store =>
      store.commit("t", (1 to 40).map(i => (i.toLong, "x")).toDF("id", "s")
        .repartition(8), "create")
      (1 to 30).foreach(i =>
        store.append("t", Seq((1000L + i, "y")).toDF("id", "s").coalesce(1)))
      val last = store.manifests("t").maxBy(_.version)
      assert(last.files.size == 38)
      val txt = manifestText(store, "t", last.version)
      // inline tail never exceeds rollThreshold + the batch's own files
      assert(inlineCount(txt) <= 9, s"inline tail too long: ${inlineCount(txt)}")
    }
  }
}
