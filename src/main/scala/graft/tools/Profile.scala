package graft.tools

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev-only profiler for SparkEntry queries, in the bench's session
  * ([[graft.GraftSession]]). Each query is warmed up once at sf0.001, as
  * the bench does, then run `reps` times. Per rep it prints one summary
  * line: wall time, rows, SQL query executions, Spark job count, summed
  * job time, driver gap (wall time outside every job: planning, commits,
  * micro-batch machinery), process CPU-s and GC ms. After it come the jobs of at least
  * 50 ms with their descriptions, and each streaming trigger's
  * `durationMs` split (addBatch / getBatch / latestOffset / queryPlanning
  * / walCommit / commitOffsets / triggerExecution).
  *
  * Usage: runMain graft.tools.Profile <query[,query2...]> [sfDir] [reps]
  */
object Profile {

  private final case class Job(start: Long, desc: String, var end: Long = 0L)

  private final class JobLog extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, Job]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      jobs.put(e.jobId, Job(e.time, desc))
      ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  }

  /** SQL query executions, failed ones included (`collect`, `count`,
    * writes; each may run several Spark jobs). */
  private final class QueryCount extends QueryExecutionListener {
    val n = new AtomicInteger()
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      n.incrementAndGet(); ()
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = {
      n.incrementAndGet(); ()
    }
  }

  private final class TriggerLog extends StreamingQueryListener {
    val lines = new ConcurrentLinkedQueue[String]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      lines.add(s"batch=${p.batchId} rows=${p.numInputRows} durationMs=${p.durationMs}")
      ()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Milliseconds of [t0, t1] covered by at least one job (jobs overlap
    * when a stream thread and the caller both run work). */
  private def busyMs(jobs: Seq[Job], t0: Long, t1: Long): Long = {
    val spans = jobs.map(j => (math.max(j.start, t0), math.min(j.end, t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var reach = t0
    spans.foreach { case (a, b) =>
      if (b > reach) { busy += b - math.max(a, reach); reach = b }
    }
    busy
  }

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobLog = new JobLog
    val triggerLog = new TriggerLog
    val queries = new QueryCount
    spark.sparkContext.addSparkListener(jobLog)
    spark.listenerManager.register(queries)
    spark.streams.addListener(triggerLog)
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def gcMs(): Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

    names.foreach { q =>
      try graft.SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").count()
      catch { case e: Throwable => println(s"[profile] warmup failed: $e") }
      spark.catalog.clearCache()
      (1 to reps).foreach { rep =>
        Thread.sleep(200) // let the warmup's or last rep's events drain
        jobLog.jobs.clear()
        triggerLog.lines.clear()
        queries.n.set(0)
        val cpu0 = os.getProcessCpuTime
        val gc0 = gcMs()
        val t0 = System.currentTimeMillis()
        val n = graft.SparkEntry.queries(q)(spark, sfDir).count()
        val t1 = System.currentTimeMillis()
        val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
        val gc = gcMs() - gc0
        Thread.sleep(200) // listener buses deliver asynchronously
        val jobs = jobLog.jobs.asScala.toSeq.sortBy(_._1)
        val jobSum = jobs.map { case (_, j) => j.end - j.start }.sum
        val gap = (t1 - t0) - busyMs(jobs.map(_._2), t0, t1)
        println(f"[profile] $q rep$rep: wall ${(t1 - t0) / 1e3}%.2f s, $n rows, " +
          f"${queries.n.get} queries, ${jobs.size} jobs, job sum ${jobSum / 1e3}%.2f s, " +
          f"driver gap ${gap / 1e3}%.2f s, cpu $cpuS%.1f s, gc $gc ms")
        jobs.foreach { case (id, j) =>
          val d = (j.end - j.start) / 1e3
          if (d >= 0.05)
            println(f"[profile]   job $id%4d $d%7.2f s  ${j.desc.take(90)}")
        }
        triggerLog.lines.asScala.foreach(t => println(s"[profile]   trigger $t"))
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
