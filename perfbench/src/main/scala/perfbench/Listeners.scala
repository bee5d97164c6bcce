package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's observers, registered from outside the engine:
  *  - Spark jobs, stages and tasks (job spans, CPU, shuffle, spill, input);
  *  - every query execution (planning phases from `QueryExecution.tracker`,
  *    and the graft scans in the executed plan: files planned of total,
  *    delete files, runtime pruning);
  *  - stream progress (trigger spans and `durationMs` phases);
  *  - GC (time, and heap used right after each collection).
  * `filesOf` resolves a table name and version (current if none) to the
  * snapshot's (files, delete files), for merge-on-read scans whose
  * description does not say. */
final class Listeners(spark: SparkSession, filesOf: (String, Option[Long]) => (Int, Int)) {
  private val jobStart = new ConcurrentHashMap[Int, (Double, Long)]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val parent = p.flatMap(x => Option(x.getProperty(Trace.SpanProp))).map(_.toLong)
        .getOrElse(
          if (p.exists(x => x.getProperty("sql.streaming.queryId") != null)) Trace.Stream
          else Trace.ByTime)
      jobStart.put(e.jobId, (e.time.toDouble, parent))
      Counters.add("spark.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (t0, parent) =>
        Trace.add(parent, "spark", "job", t0, math.max(t0, e.time.toDouble))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Counters.add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      Counters.add("spark.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        Counters.add("spark.executor_cpu_s", m.executorCpuTime / 1e9)
        Counters.add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        Counters.add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        Counters.add("scan.bytes_read", m.inputMetrics.bytesRead.toDouble)
      }
    }
  }

  private val GraftFiles = """\[graft (\d+)/(\d+) files\]""".r.unanchored

  private def scans(p: SparkPlan): Seq[BatchScanExec] = {
    val self = p match { case b: BatchScanExec => Seq(b); case _ => Nil }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case o => o.children ++ o.subqueries
    }
    self ++ kids.flatMap(scans)
  }

  /** File count of a merge-on-read scan: its constructor keeps the pruned
    * file list in a private field. */
  private def morFiles(scan: AnyRef): Option[Int] =
    try {
      val f = scan.getClass.getDeclaredField("files")
      f.setAccessible(true)
      Some(f.get(scan).asInstanceOf[Seq[_]].size)
    } catch { case _: Exception => None }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      qe.tracker.phases.foreach { case (phase, s) =>
        val key = phase match {
          case "analysis" => Some("catalog.analysis_ms")
          case "optimization" => Some("catalog.optimize_ms")
          case "planning" => Some("catalog.physical_ms")
          case _ => None
        }
        key.foreach { k =>
          Counters.add(k, s.durationMs.toDouble)
          Trace.add(Trace.ByTime, "catalog", s"plan.$phase",
            s.startTimeMs.toDouble, s.endTimeMs.toDouble)
        }
      }
      scans(qe.executedPlan).foreach { b =>
        val desc = b.scan.description()
        val cls = b.scan.getClass.getSimpleName
        val counted: Option[(Int, Int, Int)] = desc match {
          case GraftFiles(planned, total) => Some((planned.toInt, total.toInt, 0))
          case _ if cls.startsWith("Graft") && cls.contains("MorScan") =>
            // "GraftMorScan <catalog>.<table>@v<version> [...]"
            val (name, version) = desc.split(' ').lift(1).getOrElse("").split('.').last
              .split("@v") match {
                case Array(t, v) => (t, v.toLongOption)
                case a => (a.head, None)
              }
            val (total, deletes) = filesOf(name, version)
            Some((morFiles(b.scan).getOrElse(total), total, deletes))
          case _ => None
        }
        counted.foreach { case (planned, total, deletes) =>
          Counters.add("scan.files_planned", planned)
          Counters.add("scan.files_total", total)
          Counters.add("scan.delete_files", deletes)
          if (b.runtimeFilters.nonEmpty && planned < total)
            Counters.add("scan.runtime_pruned", 1)
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
      Counters.add("streaming.triggers", 1)
      if (p.numInputRows == 0) Counters.add("streaming.empty_triggers", 1)
      Counters.add("streaming.rows", p.numInputRows.toDouble)
      Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")
        .foreach(k => Counters.add(s"streaming.${k}_ms", d.getOrElse(k, 0L).toDouble))
      // durationMs gives each phase's length, not its start: lay the
      // phases out in MicroBatchExecution's order from the trigger start.
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val total = d.getOrElse("triggerExecution", 0L).toDouble
      val trig = Trace.add(0L, "streaming", "trigger", t0, t0 + total)
      var t = t0
      Seq("latestOffset", "walCommit", "queryPlanning", "getBatch", "addBatch",
          "commitOffsets").foreach { k =>
        d.get(k).filter(_ > 0).foreach { ms =>
          Trace.add(trig, "streaming", s"phase.$k", t, math.min(t + ms, t0 + total))
          t += ms
        }
      }
    }
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private var gc0 = 0L
  private val gcNotify = new javax.management.NotificationListener {
    override def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
      if (on && n.getType ==
          com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
        Counters.max("jvm.heap_after_gc_mb", used / 1048576.0)
      }
  }
  @volatile private var on = false

  def start(): Unit = {
    on = true
    gc0 = gcMs
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    gcBeans.foreach {
      case e: javax.management.NotificationEmitter => e.addNotificationListener(gcNotify, null, null)
      case _ =>
    }
  }

  /** Unregisters everything after the listener bus has delivered the
    * events of the traced window. */
  def stop(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    Counters.add("jvm.gc_s", (gcMs - gc0) / 1000.0)
    on = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    gcBeans.foreach {
      case e: javax.management.NotificationEmitter =>
        try e.removeNotificationListener(gcNotify) catch { case _: Exception => () }
      case _ =>
    }
  }
}
