package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in per-layer tracing: a benchmark-owned [[SparkListener]] and
  * [[QueryExecutionListener]] plus Hadoop `FileSystem` statistics. Nothing
  * in the library is instrumented.
  *
  * Every benchmark call (a sync day, a forget, a read, a query) is a parent
  * span; the Spark jobs that start inside it are its children. A job is
  * attributed to a layer from its call site: the job's
  * `spark.sql.execution.id` leads to the SQL execution start event, whose
  * call-site stack names the innermost `graft.*` frame; jobs outside SQL
  * executions use their first stage's call-site stack. The AQE broadcast
  * and subquery jobs run on pool threads, so only the execution id ties
  * them to library code. A job whose stacks carry no library frame takes
  * the layer of the API its span called, and counts as unattributed.
  */
object Tracer {

  /** The layers the report names, after the repository's modules. */
  val Layers: Seq[String] = Seq(
    "pipeline.Sync", "pipeline.Canonicalize", "pipeline.Manifest",
    "pipeline.Rollup", "pipeline.Skipping", "pipeline.Maintain",
    "pipeline.AppendCommit", "pipeline.Cascade", "catalog", "sources",
    "plans", "operators.Dedup", "operators.Graph", "operators.Stats",
    "operators.Curation", "Warehouse")

  val LayerFields: Seq[String] = Seq("jobs", "tasks", "busy_ms",
    "executor_cpu_ms", "shuffle_write_bytes", "input_bytes",
    "output_bytes")

  /** Module of a stack frame such as
    * `graft.pipeline.Manifest$.commit(Manifest.scala:88)`:
    * `pipeline.Manifest`. Packages without per-file layers collapse to
    * the package (`catalog`, `sources`, `plans`). */
  def moduleOf(frame: String): Option[String] = {
    val f = frame.trim.stripPrefix("at ")
    if (!f.startsWith("graft.")) None
    else {
      val cls = f.takeWhile(_ != '(').split('.').dropRight(1)
      val parts = cls.drop(1).map(_.takeWhile(_ != '$'))
      parts.toList match {
        case ("pipeline" | "operators") :: m :: _ if m.nonEmpty =>
          Some(s"${parts(0)}.$m")
        case pkg :: _ :: _ => Some(pkg)
        case top :: Nil => Some(top)
        case _ => None
      }
    }
  }

  def moduleOfStack(stack: String): Option[String] =
    Option(stack).iterator.flatMap(_.split('\n')).flatMap(moduleOf)
      .nextOption()

  /** One benchmark call; `kind` is the sample kind (`sync`, `sync-noop`,
    * `forget`, a read kind or a query name). */
  final case class Span(name: String, kind: String, layer: String, iter: Int,
      start: Long, var end: Long = 0L, var filesScanned: Long = 0L,
      var filesTotal: Long = 0L, var planNs: Long = 0L)

  final class Job(val id: Int, val start: Long, val execId: Option[Long],
      val stageDetails: String) {
    var end: Long = 0L
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var input = 0L
    var output = 0L
    var spill = 0L
  }

  /** Bytes over every scheme from Hadoop `FileSystem.Statistics`, and
    * the local listings counted by [[CountingLocalFileSystem]]. */
  @annotation.nowarn("cat=deprecation")
  def fsCounters(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    Map(
      "bytes_read" -> all.map(_.getBytesRead).sum,
      "bytes_written" -> all.map(_.getBytesWritten).sum,
      "list_ops" -> CountingLocalFileSystem.lists.get())
  }
}

final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  import Tracer._

  private val lock = new Object
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageToJob = mutable.Map.empty[Int, Int]
  private val execDetails = mutable.Map.empty[Long, (String, Option[Long])]
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  /** Wall time the listener callbacks themselves took. */
  @volatile var selfNs = 0L

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    // drain queued events so the last span's jobs are all recorded
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Run `body` as a parent span; jobs starting inside it are its
    * children. `filesTotal` is the file count of the table the call reads,
    * when it reads one through a file scan. */
  def span[A](name: String, kind: String, layer: String, iter: Int,
      filesTotal: Long = 0L)(body: => A): A = {
    val s = Span(name, kind, layer, iter, System.currentTimeMillis(),
      filesTotal = filesTotal)
    lock.synchronized { spans += s }
    try body finally s.end = System.currentTimeMillis()
  }

  private def record(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try lock.synchronized(f) finally selfNs += System.nanoTime() - t0
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      record { execDetails(e.executionId) = (e.details, e.rootExecutionId) }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = record {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption)
    val details = e.stageInfos.sortBy(_.stageId).lastOption
      .map(_.details).getOrElse("")
    jobs(e.jobId) = new Job(e.jobId, e.time, exec, details)
    e.stageIds.foreach(stageToJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = record {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    record {
      val si = e.stageInfo
      for (jid <- stageToJob.get(si.stageId); j <- jobs.get(jid)) {
        val m = si.taskMetrics
        j.tasks += si.numTasks
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.input += m.inputMetrics.bytesRead
          j.output += m.outputMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val t0 = System.nanoTime()
    // delivered asynchronously: find the span by when planning started
    val phases = qe.tracker.phases.values
    val planNs = phases.map(_.durationMs).sum * 1000000L
    val started = if (phases.isEmpty) System.currentTimeMillis()
      else phases.map(_.startTimeMs).min
    val files = collect(qe.executedPlan) { case s: FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    lock.synchronized {
      spans.find(s => s.start <= started &&
          (s.end == 0L || started <= s.end)).foreach { s =>
        s.planNs += planNs; s.filesScanned += files }
    }
    selfNs += System.nanoTime() - t0
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** How a job was attributed: its layer, and whether the call site
    * (SQL execution, else stage) or only the enclosing span named it. */
  private def attribute(j: Job, span: Span): (String, String) = {
    def fromExec(id: Long, depth: Int): Option[String] =
      execDetails.get(id).flatMap { case (d, root) =>
        moduleOfStack(d).orElse(
          if (depth < 4) root.filter(_ != id).flatMap(fromExec(_, depth + 1))
          else None)
      }
    j.execId.flatMap(fromExec(_, 0)).map(_ -> "sql")
      .orElse(moduleOfStack(j.stageDetails).map(_ -> "stage"))
      .getOrElse(span.layer -> "span")
  }

  /** Every traced span with its child jobs, for `trace.json`. */
  def spanTree(iters: Set[Int]): Map[String, Any] = lock.synchronized {
    val ss = spans.filter(s => iters(s.iter) && s.end > 0)
    Map("spans" -> ss.toSeq.map { s =>
      val kids = jobs.values.toSeq.filter(j => s.start <= j.start &&
        j.start <= s.end)
      Map("name" -> s.name, "layer" -> s.layer, "start_ms" -> s.start,
        "end_ms" -> s.end, "jobs" -> kids.map { j =>
          val (layer, by) = attribute(j, s)
          Map("job" -> j.id, "layer" -> layer, "attributed_by" -> by,
            "start_ms" -> j.start, "end_ms" -> j.end, "tasks" -> j.tasks,
            "executor_cpu_ms" -> j.cpuNs / 1e6,
            "shuffle_write_bytes" -> j.shuffleWrite,
            "input_bytes" -> j.input, "output_bytes" -> j.output)
        })
    })
  }

  /** The per-layer report: totals over the spans of the traced
    * iterations (a traced run has a fixed shape, so totals compare). */
  def report(iters: Set[Int]): Map[String, Double] =
    lock.synchronized {
      val ss = spans.filter(s => iters(s.iter) && s.end > 0)
      def spanOf(t: Long) = ss.find(s => s.start <= t && t <= s.end)
      val mine = jobs.values.toSeq.flatMap(j =>
        spanOf(j.start).map(s => (j, s, attribute(j, s))))
      val out = mutable.LinkedHashMap.empty[String, Double]
      def busy(j: Job) = math.max(0L, j.end - j.start).toDouble
      for (l <- Layers) {
        val js = mine.filter(_._3._1 == l).map(_._1)
        out(s"$l.jobs") = js.size
        out(s"$l.tasks") = js.map(_.tasks).sum.toDouble
        out(s"$l.busy_ms") = js.map(busy).sum
        out(s"$l.executor_cpu_ms") = js.map(_.cpuNs).sum / 1e6
        out(s"$l.shuffle_write_bytes") = js.map(_.shuffleWrite).sum.toDouble
        out(s"$l.input_bytes") = js.map(_.input).sum.toDouble
        out(s"$l.output_bytes") = js.map(_.output).sum.toDouble
      }
      out("all.gc_ms") = mine.map(_._1.gcMs).sum.toDouble
      out("all.spill_bytes") = mine.map(_._1.spill).sum.toDouble
      val total = math.max(1.0, mine.map(m => busy(m._1)).sum)
      out("trace.unattributed_share") =
        mine.filter(_._3._2 == "span").map(m => busy(m._1)).sum / total
      out("trace.stage_fallback_share") =
        mine.filter(_._3._2 == "stage").map(m => busy(m._1)).sum / total
      // wall time of the sync calls not covered by any job: Spark driver work
      val syncs = ss.filter(s => s.kind == "sync" || s.kind == "sync-noop")
      val covered = syncs.map { s =>
        val ivs = mine.filter(_._2 eq s).map(m => (m._1.start, m._1.end))
          .sortBy(_._1)
        var (sum, lo, hi) = (0L, s.start, s.start)
        for ((a, b) <- ivs) {
          if (a > hi) { sum += hi - lo; lo = a; hi = b }
          else hi = math.max(hi, b)
        }
        sum + (hi - lo)
      }.sum
      out("Warehouse.driver_gap_ms") =
        (syncs.map(s => s.end - s.start).sum - covered).toDouble
      // Manifest busy time per delivery day, least-squares slope over the
      // day index (no-op days deliver nothing and are left out)
      val days = ss.filter(_.kind == "sync").map { s =>
        s.name.stripPrefix("sync/").toDouble -> mine.filter(m =>
          (m._2 eq s) && m._3._1 == "pipeline.Manifest")
          .map(m => busy(m._1)).sum
      }
      out("pipeline.Manifest.busy_ms_per_day_slope") =
        if (days.size < 2) 0.0 else {
          val mx = days.map(_._1).sum / days.size
          val my = days.map(_._2).sum / days.size
          days.map { case (x, y) => (x - mx) * (y - my) }.sum /
            days.map { case (x, _) => (x - mx) * (x - mx) }.sum
        }
      // planning time of the reads and queries (not of sync internals)
      out("plans.plan_ms") = ss.filterNot(s => s.name.startsWith("sync/") ||
        s.name.startsWith("forget/")).map(_.planNs).sum / 1e6
      val reads = ss.filter(_.filesTotal > 0)
      val tot = reads.map(_.filesTotal).sum
      out("plans.files_scanned_ratio") =
        if (tot == 0) 0.0 else reads.map(_.filesScanned).sum.toDouble / tot
      out("trace.listener_ms") = selfNs / 1e6
      out.toMap
    }
}
