package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One timed operation. Times are epoch milliseconds ([[Clock]]); `due` is
  * when an open-loop op was scheduled (NaN in a closed loop); `traced`
  * says which half of a traced run it belongs to. Ops sharing a non-empty
  * `group` form one request for the latency percentiles (see stats.py). */
final case class Op(kind: String, t0: Double, t1: Double, ok: Boolean,
    due: Double, rows: Long, traced: Boolean, group: String = "", cpu: Double = 0.0)

/** An output check, run outside the timed window. A failed check counts
  * as one failed op. */
final case class Check(name: String, ok: Boolean, detail: String)

/** Collects ops and the facts a workload reports about its run. */
final class Recorder {
  val ops = ArrayBuffer[Op]()
  val checks = ArrayBuffer[Check]()
  val facts = scala.collection.mutable.LinkedHashMap[String, Double]()
  @volatile var traced = false
  private val cpu = ThreadCpu()

  /** Runs `body` as one closed-loop op: timed, a root span when tracing,
    * and any exception recorded as a failed op rather than ending the run.
    * The process CPU spent meanwhile is recorded with it. */
  def op(kind: String, rows: Long, group: String = "")(body: => Unit): Boolean = {
    val cpu0 = cpu.seconds
    val t0 = Clock.ms
    val ok = try { Trace.span("op", kind)(body); true }
    catch { case e: Exception =>
      System.err.println(s"[perfbench] op $kind failed: $e")
      false
    }
    ops += Op(kind, t0, Clock.ms, ok, Double.NaN, rows, traced, group, cpu.seconds - cpu0)
    ok
  }

  def cpuS: Double = cpu.seconds

  /** Runs an output check. */
  def check(name: String)(body: => Option[String]): Boolean = {
    val res = try body catch { case e: Exception => Some(e.toString) }
    checks += Check(name, res.isEmpty, res.getOrElse(""))
    if (res.nonEmpty) System.err.println(s"[perfbench] check $name FAILED: ${res.get}")
    res.isEmpty
  }

  def fact(name: String, v: Double): Unit = facts(name) = v
  def addFact(name: String, v: Double): Unit = facts(name) = facts.getOrElse(name, 0.0) + v
}

/** A benchmark workload. `setup` generates fresh inputs and builds the
  * tables under `dir` (called several times; the last set-up's state is
  * the one measured), `warm` runs each op kind unrecorded (it may record
  * output checks in `rec`), `measure` runs the loop for about `seconds`,
  * `finish` runs the output checks and records byte facts outside the
  * timed window. */
trait Workload {
  def setup(dir: Path): Unit
  def warm(rec: Recorder): Unit
  def measure(seconds: Double, rec: Recorder): Unit
  def finish(rec: Recorder): Unit
  /** (files, delete files) of a table's snapshot `version` (current if
    * none), for scan counts; only workloads that run SQL scans need it. */
  def filesOf(table: String, version: Option[Long]): (Int, Int) = (0, 0)
}

/** Entry point of one benchmark run inside a fresh JVM:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --root <dir>
  * --out <file>`. Writes the raw record (set-up times, ops, spans, counters,
  * checks, facts) as JSON to `--out`; the Python front end turns it into
  * metrics. */
object Main {
  /** Spark's task slots. The ops are driver-bound (their process CPU is
    * about their wall time), so two slots lose no speed, and leaving cores
    * free keeps a shared host's other load from stretching the ops. */
  val Cpus = 2

  def session(root: Path): SparkSession = {
    val cpus = Cpus.toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      // graft.Bench's session settings
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "256m")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.files.maxPartitionBytes", "33554432")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.cleaner.periodicGC.interval", "90s")
      .config("spark.ui.enabled", "false")
      // everything the run writes stays under its own temp root
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("spark-warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", root.resolve("checkpoints").toString)
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val root = Paths.get(a("root"))
    val out = Paths.get(a("out"))

    val spark = session(root)
    Trace.sc = spark.sparkContext
    val w: Workload = workload match {
      case "curation" => new CurationWorkload(spark, seed)
      case "cdc_stream" => new CdcStreamWorkload(spark, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val rec = new Recorder
    def timeS(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }
    // set-up runs three times so setup_s can be a median
    val setupS = (1 to 3).map(i => timeS(w.setup(root.resolve(s"setup$i"))))
    rec.fact("warm_s", timeS(w.warm(rec)))
    val heap0 = liveHeapMb()
    rec.fact("phase.measure_s", timeS {
      if (!trace) w.measure(seconds, rec)
      else {
        w.measure(seconds / 2, rec)
        val l = new Listeners(spark, w.filesOf)
        Trace.on = true
        rec.traced = true
        l.start()
        try w.measure(seconds / 2, rec)
        finally { Trace.on = false; l.stop() }
      }
    })
    rec.fact("live_heap_peak_mb", math.max(heap0, liveHeapMb()))
    rec.fact("phase.finish_s", timeS(w.finish(rec)))
    Json.writeRecord(out, workload, seed, setupS, rec)
    spark.stop()
  }

  /** Heap in use right after a full collection. The second collection
    * follows a pause in which Spark's cleaner drops the blocks and shuffles
    * the first one found unreachable. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }
}

/** CPU seconds of the process's Java threads (Spark's task threads, the
  * driver, the stream thread). The JIT compiler's and the collector's own
  * threads are left out: their bursts vary run to run and are not work of
  * the ops. */
final case class ThreadCpu() {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  def seconds: Double =
    threads.getAllThreadIds.iterator.map(threads.getThreadCpuTime).filter(_ > 0).sum / 1e9
}

/** Minimal JSON writer for the raw record (no extra dependency). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  def writeRecord(out: Path, workload: String, seed: Long, setupS: Seq[Double],
      rec: Recorder): Unit = {
    import scala.jdk.CollectionConverters._
    val ops = rec.ops.map(o => obj(Seq("kind" -> str(o.kind), "t0" -> num(o.t0),
      "t1" -> num(o.t1), "ok" -> o.ok.toString, "due" -> num(o.due),
      "rows" -> o.rows.toString, "traced" -> o.traced.toString, "group" -> str(o.group),
      "cpu" -> num(o.cpu))))
    val spans = Trace.spans.asScala.map(s => obj(Seq("id" -> s.id.toString,
      "parent" -> s.parent.toString, "layer" -> str(s.layer), "name" -> str(s.name),
      "t0" -> num(s.t0), "t1" -> num(s.t1))))
    val checks = rec.checks.map(c => obj(Seq("name" -> str(c.name), "ok" -> c.ok.toString,
      "detail" -> str(c.detail))))
    val text = obj(Seq(
      "workload" -> str(workload), "seed" -> seed.toString,
      "setup_s" -> arr(setupS.map(num)),
      "ops" -> arr(ops), "spans" -> arr(spans), "checks" -> arr(checks),
      "counters" -> obj(Counters.snapshot.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }),
      "facts" -> obj(rec.facts.map { case (k, v) => k -> num(v) })))
    Files.write(out, text.getBytes("UTF-8"))
  }
}
