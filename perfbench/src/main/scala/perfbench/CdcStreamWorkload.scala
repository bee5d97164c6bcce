package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import graft.core.TableStore
import graft.streaming.CdcStream
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** `cdc_stream`: a CDC stream landing into a merge-on-read table, and the
  * reads and maintenance that table is served with.
  *
  * Ingest (open loop, the measured window): one generator thread drops a
  * seeded CDC batch file (updates of existing keys, new keys, deletes) into
  * the source directory every 1/`rate` seconds, whether or not earlier
  * files have landed; `CdcStream.upsertMoRSink` lands one file per
  * micro-batch as one merge-on-read commit. An op is one file, timed from
  * when it was due to the commit of the micro-batch that took it.
  *
  * Serve (closed loop, one client): SQL through `GraftCatalog` on the table
  * the stream built (its snapshot history, with unmerged equality deletes):
  * a key lookup, a star join with a selective dimension, time travel by
  * version and `COUNT(*)`. Each query also runs on a raw-Parquet twin
  * holding the expected rows, built with plain DataFrame operations from
  * the generated batches (a reference op, not counted); the two results
  * must hash equal. Then the `ext` graph op runs once ([[ExtOps]]). The
  * serve runs, checked, in the warm-up of every run, and in the traced half
  * of a traced run, where its layers are timed; the end-to-end window is
  * the ingest alone, so that it holds enough landings for steady medians
  * within the run's time.
  *
  * Maintain, after each ingest: `compactDeletes`, `expireSnapshots`,
  * `removeOrphanFiles`; the final state is checked after it. */
final class CdcStreamWorkload(spark: SparkSession, seed: Long) extends Workload {
  // one file a second keeps the sink (about 0.4 s a trigger here) below
  // saturation, so latency reflects the trigger and not a growing queue
  private val rate = 1.0
  private val rowsPerFile = 200
  private val keys = 20000
  private val Table = "cdc"
  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("v", DecimalType(12, 2)), StructField("batch", LongType),
    StructField("seq", IntegerType), StructField("deleted", BooleanType)))
  private val kinds = Seq("lookup", "star", "tt_version", "count")

  private var dir: Path = _
  private var store: TableStore = _
  private var query: StreamingQuery = _
  private var fileNo = 0
  private var lastMtime = 0L
  private var setups = 0
  private var cat = ""
  private var windows = 0
  private val rnd = new scala.util.Random(seed)
  private val ext = new ExtOps(spark, seed)

  private def src = dir.resolve("src")
  private def tableDir = dir.resolve("wh").resolve(Table)
  private def checkpoint = dir.resolve("checkpoint")

  override def filesOf(table: String, version: Option[Long]): (Int, Int) = {
    val ms = if (store == null) Nil else store.manifests(table)
    version.fold(ms.maxByOption(_.version))(v => ms.find(_.version == v))
      .fold((0, 0))(m => (m.files.size, m.deleteFiles.size))
  }

  private def initial: DataFrame = spark.range(keys).select(col("id"),
    (Gen.u(seed, 70, 100000, col("id")) / 100).cast("decimal(12,2)").as("v"),
    lit(-1L).as("batch"), lit(0).as("seq"))

  def setup(d: Path): Unit = {
    stopQuery()
    if (dir != null) Gen.deleteRecursively(dir)
    dir = d
    fileNo = 0
    setups += 1
    Files.createDirectories(src)
    store = new TableStore(spark, d.resolve("wh").toString)
    store.commit(Table, initial, "create")
    store.commit("segment", spark.range(100).select(col("id").as("k"),
      (col("id") % 5).cast("int").as("region"),
      concat(lit("seg"), (col("id") % 7).cast("string")).as("segment")), "create")
    cat = s"lake$setups"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", d.resolve("wh").toString)
    twin("segment", store.read("segment"))
    ext.setup(d.resolve("ext"))
    query = CdcStream.upsertMoRSink(
      // one batch file per micro-batch: each CDC batch is one commit
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").csv(src.toString),
      store, Table, Seq("id"), "deleted", checkpoint.toString)
  }

  /** Lands a few batches and serves once, unrecorded; the serve's output
    * checks, and any op of it that failed, count in `rec`. */
  def warm(rec: Recorder): Unit = {
    (0 until 5).foreach(_ => writeBatch())
    query.processAllAvailable()
    val scratch = new Recorder
    serve(scratch, firstBatch = 0)
    rec.checks ++= scratch.checks
    scratch.ops.filterNot(_.ok).foreach(o =>
      rec.check(s"cdc_stream.warm.${o.kind}")(Some("op failed")))
  }

  private def stopQuery(): Unit =
    if (query != null) { query.stop(); query.awaitTermination(); query = null }

  /** One CDC batch file: 70% updates of existing keys, 20% new keys, 10%
    * deletes, at most one row per key (a batch is a net change set);
    * written aside and renamed in, so the source never sees a partial
    * file. Returns (file name, rows, bytes). */
  private def writeBatch(): (String, Int, Long) = {
    val b = fileNo
    fileNo += 1
    val sb = new StringBuilder
    val seen = scala.collection.mutable.HashSet[Long]()
    var s = 0
    while (s < rowsPerFile) {
      val kind = rnd.nextInt(10)
      val id = if (kind < 7 || kind == 9) rnd.nextInt(keys).toLong
        else keys.toLong + rnd.nextInt(keys * 4)
      if (seen.add(id)) {
        sb ++= s"$id,${BigDecimal(rnd.nextInt(100000), 2)},$b,$s,${kind == 9}\n"
        s += 1
      }
    }
    val name = f"batch-$b%06d.csv"
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, sb.toString.getBytes(StandardCharsets.UTF_8))
    val bytes = Files.size(tmp)
    // strictly increasing modification times: the file source takes the
    // oldest file first, and a burst of files written within one
    // millisecond would leave their order, and so the latest row of a
    // key, open
    lastMtime = math.max(System.currentTimeMillis(), lastMtime + 1)
    Files.setLastModifiedTime(tmp, FileTime.fromMillis(lastMtime))
    Files.move(tmp, src.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    (name, rowsPerFile, bytes)
  }

  /** Batch number in a file name → micro-batch id, from the file source's
    * metadata log (skipping its ".<n>.crc" checksum side files). */
  private def fileBatches(): Map[Long, Long] = {
    val log = checkpoint.resolve("sources").resolve("0")
    val Entry = """"path":"[^"]*batch-(\d+)\.csv".*"batchId":(\d+)""".r.unanchored
    Files.list(log).iterator().asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f).asScala.collect {
        case Entry(b, id) => b.toLong -> id.toLong
      }).toMap
  }

  /** Manifest of the commit that landed micro-batch `id` of this stream. */
  private def commitOf(id: Long): Option[TableStore.Manifest] = {
    val qid = query.id.toString
    store.manifests(Table).find(_.streamEpoch.contains((qid, id)))
  }

  def measure(seconds: Double, rec: Recorder): Unit = {
    windows += 1
    val firstBatch = fileNo.toLong
    ingest(seconds, rec)
    if (Trace.on) serve(rec, firstBatch)
    maintain(rec)
  }

  private def ingest(seconds: Double, rec: Recorder): Unit = {
    val n = math.max(1, math.round(seconds * rate).toInt)
    val sent = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int, Long, Double, Double)]()
    val bytes0 = Gen.dirBytes(tableDir)
    val start = Clock.ms + 50
    val gen = new Thread(() => {
      (0 until n).foreach { i =>
        val due = start + i * 1000.0 / rate
        val wait = due - Clock.ms
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        val b = fileNo.toLong
        val (_, rows, bytes) = writeBatch()
        sent.add((b, rows, bytes, due, Clock.ms))
      }
    }, "cdc-generator")
    val cpu0 = rec.cpuS
    gen.start()
    gen.join()
    query.processAllAvailable()
    // each landing's share of what the process did while the stream ran
    val cpuEach = (rec.cpuS - cpu0) / n
    val byBatch = fileBatches()
    val window = sent.asScala.toSeq
    window.foreach { case (b, rows, bytes, due, wrote) =>
      val visible = byBatch.get(b).flatMap(commitOf).map(_.timestampMs.toDouble)
      rec.ops += Op("land_batch", due, visible.getOrElse(Clock.ms), visible.nonEmpty, due,
        rows.toLong, rec.traced, cpu = cpuEach)
      rec.addFact("user_bytes", bytes.toDouble)
      rec.fact("generator_late_ms_max",
        math.max(rec.facts.getOrElse("generator_late_ms_max", 0.0), wrote - due))
    }
    rec.addFact("table_bytes_written", (Gen.dirBytes(tableDir) - bytes0).toDouble)
    // exactly-once: each batch file is its own micro-batch with one commit
    val ids = window.flatMap(w => byBatch.get(w._1))
    val commits = ids.flatMap(commitOf)
    rec.check("cdc_stream.exactly_once") {
      if (ids.distinct.size == window.size && commits.size == window.size &&
          commits.map(_.version).distinct.size == commits.size) None
      else Some(s"${window.size} files, ${ids.distinct.size} micro-batches, " +
        s"${commits.size} commits")
    }
    rec.check("cdc_stream.in_order") {
      val order = window.map(_._1).sorted.flatMap(byBatch.get)
      if (order == order.sorted) None else Some(s"files landed as micro-batches $order")
    }
    if (Trace.on) {
      // files a commit added live under its own version directory
      val added = commits.map(m => m.files.filter(_.path.startsWith(s"v=${m.version}/")) ->
        m.deleteFiles.count(_.path.startsWith(s"v=${m.version}/")))
      Counters.add("core.commit.count", commits.size.toDouble)
      Counters.add("core.commit.files_added", added.map(a => a._1.size + a._2).sum.toDouble)
      Counters.add("core.merge.delta_rows", window.map(_._2).sum.toDouble)
      Counters.add("core.merge.rows_rewritten", added.flatMap(_._1).map(_.rowCount).sum.toDouble)
    }
  }

  /** Latest row per key over the initial load and batch files up to
    * `lastBatch`, deletes applied: the table's expected state. */
  private def expectedUpTo(lastBatch: Long): DataFrame = {
    val w = Window.partitionBy("id").orderBy(col("batch").desc, col("seq").desc)
    initial.withColumn("deleted", lit(false))
      .unionByName(spark.read.schema(schema).csv(src.toString).filter(col("batch") <= lastBatch))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .filter(!col("deleted")).select("id", "v", "batch", "seq")
  }

  private def twin(name: String, df: DataFrame): Unit = {
    val p = dir.resolve("raw").resolve(s"$name-$windows").toString
    df.write.parquet(p)
    spark.read.parquet(p).createOrReplaceTempView(s"raw_$name")
  }

  /** Seeded SQL of one query kind; the function maps graft=true/false to
    * the catalog table or its raw twin. */
  private def sql(kind: String, ttVersion: Long): Boolean => String = {
    val key = rnd.nextInt(keys)
    val lo = rnd.nextInt(keys)
    val region = rnd.nextInt(5)
    graft => {
      val t = if (graft) s"$cat.ns.$Table" else s"raw_$Table"
      val seg = if (graft) s"$cat.ns.segment" else "raw_segment"
      kind match {
        case "lookup" => s"SELECT id, v, batch, seq FROM $t WHERE id = $key"
        case "star" =>
          s"""SELECT s.segment, count(*), sum(t.v) FROM $t t JOIN $seg s ON t.id % 100 = s.k
             |WHERE s.region = $region GROUP BY 1""".stripMargin
        case "tt_version" =>
          val from = if (graft) s"$t VERSION AS OF $ttVersion" else s"raw_${Table}_tt"
          s"SELECT count(*), sum(v) FROM $from WHERE id >= $lo"
        case "count" => s"SELECT count(*) FROM $t"
      }
    }
  }

  private def hash(rows: Array[Row]): String =
    rows.map(_.toSeq.map(String.valueOf).mkString("|")).sorted.mkString("\n")

  /** The closed-loop read phase over what the stream landed; time travel
    * targets the commit of the window's middle batch. Its ops form one
    * request for the latency percentiles: one read session. */
  private def serve(rec: Recorder, firstBatch: Long): Unit = {
    val group = s"serve$windows"
    val lastBatch = fileNo - 1L
    val ttBatch = (firstBatch + lastBatch) / 2
    val tt = fileBatches().get(ttBatch).flatMap(commitOf)
      .getOrElse(throw new IllegalStateException(s"no commit for batch $ttBatch"))
    twin(Table, expectedUpTo(lastBatch))
    twin(s"${Table}_tt", expectedUpTo(ttBatch))
    kinds.zipWithIndex.foreach { case (k, i) =>
      val q = sql(k, tt.version)
      val layer = if (k.startsWith("tt_")) "core.snapshot" else "catalog"
      var got: Array[Row] = null
      var want: Array[Row] = null
      val graftOp = () => rec.op(s"sql.$k", keys.toLong, group) {
        got = Trace.span(layer, k)(spark.sql(q(true)).collect())
      }
      val rawOp = () => rec.op(s"ref.$k", keys.toLong) { want = spark.sql(q(false)).collect() }
      // alternate which side runs first, so neither always finds warm caches
      if (i % 2 == 0) { graftOp(); rawOp() } else { rawOp(); graftOp() }
      if (got != null && want != null)
        rec.check(s"cdc_stream.sql.$k.matches_raw") {
          if (hash(got) == hash(want)) None
          else Some(s"graft ${got.length} rows != raw twin ${want.length} rows")
        }
    }
    ext.run(rec, group)
  }

  private def maintain(rec: Recorder): Unit = {
    val files0 = Gen.fileCount(tableDir)
    val bytes0 = Gen.dirBytes(tableDir)
    Trace.span("core.maintenance", "compactDeletes")(store.compactDeletes(Table))
    val grown = Gen.dirBytes(tableDir) - bytes0
    Trace.span("core.maintenance", "expireSnapshots")(store.expireSnapshots(Table, keepLast = 1))
    Trace.span("core.maintenance", "removeOrphanFiles")(
      store.removeOrphanFiles(Table, olderThanMs = 0L))
    if (Trace.on) {
      Counters.add("core.maintenance.bytes_rewritten", grown.toDouble)
      Counters.add("core.maintenance.files_removed", (files0 - Gen.fileCount(tableDir)).toDouble)
    }
  }

  def finish(rec: Recorder): Unit = {
    rec.fact("snapshot_versions", store.manifests(Table).size.toDouble)
    rec.fact("manifest_files", Gen.fileCount(tableDir.resolve("_manifests")).toDouble)
    stopQuery()
    rec.check("cdc_stream.final_state") {
      val got = store.read(Table).select("id", "v", "batch", "seq")
      val (g, e) = (Gen.checksum(got), Gen.checksum(expectedUpTo(Long.MaxValue)))
      if (g == e) None else Some(s"table rows/hash $g != latest-per-key $e")
    }
    rec.fact("warehouse_bytes", Gen.dirBytes(tableDir).toDouble)
    rec.fact("live_bytes", Gen.liveBytes(store, Table, tableDir).toDouble)
    ext.writeOracleSpec(dir.getParent.resolve("ext_oracle.json"))
  }
}
