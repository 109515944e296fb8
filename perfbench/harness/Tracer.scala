package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per-layer accounting for the traced run.
  *
  * Every Spark job is assigned to one layer when it starts: the harness
  * names the span it is in through the `perfbench.span` local property,
  * and inside the program's own multi-layer calls (`IngestJob.runBranch`,
  * `IngestJob.runViaSource`) the graft source file in the call site of
  * the job's SQL execution (`parquet at Upsert.scala:560`) decides. Jobs
  * that AQE submits from its own threads carry the execution id, so
  * they are attributed like the action that started them. Task metrics
  * then accumulate into the job's layer.
  */
final class Tracer extends SparkListener {
  final class Acc {
    var jobs = 0L
    var jobS = 0.0
    var tasks = 0L
    var scanTasks = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var peakMem = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    var outputBytes = 0L
    var outputRecords = 0L
    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs, "job_s" -> jobS, "tasks" -> tasks,
      "scan_tasks" -> scanTasks, "shuffle_write_bytes" -> shuffleWrite,
      "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill,
      "peak_exec_mem_bytes" -> peakMem, "input_bytes" -> inputBytes,
      "input_records" -> inputRecords, "output_bytes" -> outputBytes,
      "output_records" -> outputRecords)
  }

  private val layers = mutable.Map.empty[String, Acc]
  private val jobLayer = mutable.Map.empty[Int, (String, Long)]
  private val stageLayer = mutable.Map.empty[Int, String]
  private val executionSite = mutable.Map.empty[Long, String]
  private var selfNanos = 0L

  private val CallSite = """^(\w+) at (\w+)\.scala:\d+""".r

  /** Accounting key of a job: the harness span, refined inside the
    * ingest calls by the layer whose source file the job was started
    * from, e.g. `branch:upsert`.
    */
  private def classify(span: String, callSite: String): String = {
    val (op, file) = callSite match {
      case CallSite(o, f) => (o, f)
      case _ => ("", "")
    }
    span match {
      case "via_source" | "branch" =>
        val layer = file match {
          case "Upsert" => "upsert"
          case "Catalog" => "catalog"
          case "Dv3fSource" => "dv3f_source"
          case "IngestJob" if span == "via_source" => "dv3f_source"
          case "IngestJob" if op == "json" => "json_flatten"
          case _ => "reshape"
        }
        s"$span:$layer"
      case null => "other"
      case s => s
    }
  }

  private def acc(layer: String): Acc = layers.getOrElseUpdate(layer, new Acc)

  private def timed[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally selfNanos += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed(synchronized {
    val props = Option(e.properties)
    val span = props.map(_.getProperty("perfbench.span")).orNull
    val callSite = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executionSite.get(id.toLong))
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    val layer = classify(span, callSite)
    jobLayer(e.jobId) = (layer, e.time)
    e.stageIds.foreach(stageLayer(_) = layer)
    acc(layer).jobs += 1
  })

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => timed(synchronized {
      executionSite(s.executionId) = s.description
    })
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed(synchronized {
    jobLayer.remove(e.jobId).foreach { case (layer, t0) =>
      acc(layer).jobS += (e.time - t0) / 1e3
    }
  })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed(synchronized {
    val m = e.taskMetrics
    val a = acc(stageLayer.getOrElse(e.stageId, "other"))
    a.tasks += 1
    if (m != null) {
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRecords += m.inputMetrics.recordsRead
      if (m.inputMetrics.recordsRead > 0) a.scanTasks += 1
      a.outputBytes += m.outputMetrics.bytesWritten
      a.outputRecords += m.outputMetrics.recordsWritten
    }
  })

  def snapshot(): Map[String, Map[String, Any]] = synchronized {
    layers.map { case (k, v) => k -> v.toMap }.toMap
  }

  def listenerSeconds: Double = synchronized(selfNanos / 1e9)
}
