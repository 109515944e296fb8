package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions.col

import graft.{EngineSession, SparkEntry}
import graft.dv3f.{Catalog, Dv3fConfig, IngestJob, Quality, Upsert}

/** One benchmark run inside one JVM: `Harness <plan.json>`.
  *
  * `run.py` writes the plan (workload, generated input paths, query
  * order) and reads back the JSON this writes to `plan.out`. The harness
  * reaches the program only through its public entry points and times
  * each call from outside. A single driver thread issues every
  * operation after the previous one has completed (closed loop).
  */
object Harness {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val h = new Harness(plan)
    val out = try h.run() catch {
      case e: Throwable =>
        e.printStackTrace()
        Map("fatal" -> e.toString)
    }
    Files.write(new File(plan.get("out").asText).toPath, Json(out).getBytes(UTF_8))
    h.stop()
  }
}

final class Harness(plan: JsonNode) {
  private def str(k: String): String = plan.get(k).asText
  private def strs(k: String): Seq[String] =
    Option(plan.get(k)).map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil)

  private val workload = str("workload")
  private val traced = plan.get("trace").asBoolean
  private val runDir = str("run_dir")
  private var spark: SparkSession = _
  private var tracer: Tracer = _

  // per-span codegen compilations, wall time and JVM CPU time
  private val spanCompiles = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val spanSeconds = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val spanCpu = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Run `f` as span `name`: jobs it starts carry the span's name. */
  private def span[T](name: String)(f: => T): (T, Double) = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("perfbench.span")
    sc.setLocalProperty("perfbench.span", name)
    val c0 = compiles
    val cpu0 = cpuSeconds
    val t0 = System.nanoTime()
    try {
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      spanSeconds(name) += (System.nanoTime() - t0) / 1e9
      spanCpu(name) += cpuSeconds - cpu0
      spanCompiles(name) += compiles - c0
      sc.setLocalProperty("perfbench.span", prev)
    }
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  /** Largest heap occupancy left after any garbage collection since
    * [[watchHeap]]: the live set at its peak, which unlike the resident
    * set does not depend on how far the collector let the heap grow.
    */
  @volatile private var peakLiveBytes = 0L

  private def watchHeap(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: Any) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
            synchronized { peakLiveBytes = math.max(peakLiveBytes, used) }
          }, null, null)
      case _ =>
    }

  /** CPU time of the whole JVM (every thread), in seconds. */
  private def cpuSeconds: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def newSession(): SparkSession = {
    val b = EngineSession.builder(plan.get("cores").asInt,
      smallInputTuning = plan.get("small_input_tuning").asBoolean)
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/local")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  /** Every row of the plan's result, run as one job: no column of the
    * result can be pruned away. Returns the row count.
    */
  private def materialize(p: SparkPlan): Long =
    spark.sparkContext.runJob(p.execute(), (it: Iterator[InternalRow]) => {
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      n
    }).sum

  def run(): Map[String, Any] = {
    val jvmUp = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    // Set-up is repeated and the median reported: each round builds the
    // session through EngineSession and runs a fixed warm-up job.
    val setups = (1 to plan.get("setups").asInt).map { i =>
      val cpu0 = cpuSeconds
      val t0 = System.nanoTime()
      spark = newSession()
      val t1 = System.nanoTime()
      spark.range(0, 200000, 1, plan.get("cores").asInt)
        .selectExpr("sum(id)", "count(distinct id % 1000)").collect()
      val t2 = System.nanoTime()
      val cpu = cpuSeconds - cpu0
      if (i < plan.get("setups").asInt) stop()
      Map("session_s" -> (t1 - t0) / 1e9, "total_s" -> (t2 - t0) / 1e9, "cpu_s" -> cpu,
        "done_epoch_s" -> System.currentTimeMillis / 1e3)
    }
    if (traced) {
      tracer = new Tracer
      spark.sparkContext.addSparkListener(tracer)
    }
    watchHeap()
    val gc0 = gcSeconds
    val body = workload match {
      case "ingest" => new IngestRun().run()
      case _ => new BoardRun().run()
    }
    val base = Map(
      "workload" -> workload,
      "jvm_uptime_at_main_s" -> jvmUp,
      "setups" -> setups,
      "peak_rss_mb" -> peakRssMb,
      "peak_live_heap_mb" -> peakLiveBytes / 1048576.0,
      "gc_s" -> (gcSeconds - gc0),
      "span_compiles" -> spanCompiles.toMap,
      "span_s" -> spanSeconds.toMap,
      "span_cpu_s" -> spanCpu.toMap)
    val trace =
      if (!traced) Map.empty[String, Any]
      else Map("layers" -> tracer.snapshot(),
        "listener_s" -> tracer.listenerSeconds)
    base ++ body ++ trace
  }

  /** The DV3F pipeline: backfill, refresh, trickle commits with a
    * dashboard read after each, then the quality checks.
    */
  private final class IngestRun {
    private val wh = s"$runDir/warehouse/dv3f"
    private val checkDir = str("check_dir")
    private val tables = Dv3fConfig.staging

    /** Untimed: the live snapshot of each table, for run.py's check. */
    private def dump(phase: String): Unit = span("check") {
      tables.foreach { t =>
        Upsert.read(spark, s"$wh/${t.name}")
          .select(("uid" +: t.metricNames).map(col): _*)
          .coalesce(1).write.parquet(s"$checkDir/$phase/${t.name}")
      }
    }

    private def reports(rs: Seq[IngestJob.BranchReport]): Seq[Map[String, Any]] =
      rs.map(r => Map("scope" -> r.scope, "code" -> r.code, "rows" -> r.rows,
        "ok" -> r.ok, "error" -> r.error.orNull))

    private val dashboard = strs("dashboard")

    private val branches: Seq[(String, String)] =
      plan.get("trickle").elements().asScala.map(n => (n.get(0).asText, n.get(1).asText)).toSeq

    def run(): Map[String, Any] = {
      // the benchmark's fetcher serves each branch's revised payload text
      val payloads = branches.map { case (s, c) =>
        (s, c) -> new String(Files.readAllBytes(
          new File(str("trickle_dir"), s"${s}_$c.json").toPath), UTF_8)
      }.toMap
      val fetch: IngestJob.Fetcher = (s, c) => payloads((s, c))

      val (backfill, backfillS) = span("backfill") {
        val r = span("via_source")(IngestJob.runViaSource(spark, str("payload_dir"), wh))._1
        span("catalog") {
          Catalog.ensureAll(spark, wh)
          Catalog.registerStagingViews(spark)
        }
        r
      }
      dump("backfill")
      val (refresh, refreshS) = span("refresh") {
        span("via_source")(IngestJob.runViaSource(spark, str("revised_dir"), wh))._1
      }
      dump("refresh")

      val commits = mutable.ArrayBuffer.empty[Map[String, Any]]
      val reads = mutable.ArrayBuffer.empty[Map[String, Any]]
      branches.foreach { case (s, c) =>
        val (r, sec) = span("branch")(IngestJob.runBranch(spark, fetch, wh)(s, c))
        commits += Map("scope" -> s, "code" -> c, "s" -> sec, "rows" -> r.rows,
          "ok" -> r.ok, "error" -> r.error.orNull)
        dashboard.zipWithIndex.foreach { case (sql, i) =>
          val read = mutable.Map[String, Any]("after" -> s"${s}_$c", "query" -> i)
          try {
            val (rows, sec) = span("read")(spark.sql(sql).collect())
            read ++= Map("s" -> sec, "ok" -> true,
              "result" -> rows.map(_.toSeq.map(v => String.valueOf(v))).toSeq)
          } catch {
            case e: Exception => read ++= Map("s" -> 0.0, "ok" -> false,
              "error" -> e.toString.take(500))
          }
          reads += read.toMap
        }
      }
      dump("trickle")

      val (checks, checksS) = span("checks") {
        span("quality") {
          val results = tables.flatMap { t =>
            Quality.stagingChecks(spark.table(s"${Catalog.database}.${t.name}"), t)
          }
          val profiled = tables.map { t =>
            Quality.profile(spark.table(s"${Catalog.database}.${t.name}"),
              t.schema.fieldNames.toSeq).collect().length
          }
          (results, profiled)
        }._1
      }

      val liveDirs = tables.map { t =>
        Option(new File(s"$wh/${t.name}").listFiles()).getOrElse(Array.empty[File])
          .count(f => f.isDirectory && f.getName.startsWith("_v_"))
      }.sum

      Map(
        "backfill_s" -> backfillS, "refresh_s" -> refreshS, "checks_s" -> checksS,
        "backfill_reports" -> reports(backfill), "refresh_reports" -> reports(refresh),
        "commits" -> commits.toSeq, "reads" -> reads.toSeq,
        "checks" -> checks._1.map(c => Map("table" -> c.table, "column" -> c.column,
          "check" -> c.check, "violations" -> c.violations)),
        "profile_rows" -> checks._2,
        "live_dirs" -> liveDirs)
    }
  }

  /** Registry queries, each once in the plan's order, every result
    * materialized in full and then digested for run.py's check.
    */
  private final class BoardRun {
    private val sfDir = str("sf_dir")
    private val recordDir = Option(plan.get("record_dir")).map(_.asText)

    private def cacheState(): (Int, Long) = {
      val sc = spark.sparkContext
      (sc.getPersistentRDDs.size,
        sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
    }

    def run(): Map[String, Any] = {
      val registry = SparkEntry.queries
      val out = strs("queries").map { name =>
        graft.ops.CacheBin.releaseAll()
        spark.catalog.clearCache()
        val c0 = compiles
        var buildS, planS, execS = 0.0
        val res = mutable.Map.empty[String, Any]
        try {
          val (df, b) = span("query.build")(registry(name)(spark, sfDir))
          buildS = b
          val (p, pl) = span("query.plan")(df.queryExecution.executedPlan)
          planS = pl
          val (rows, ex) = span("query.exec")(materialize(p))
          execS = ex
          res("rows_timed") = rows
          res("codegen_compiles") = compiles - c0
          if (traced) {
            res("exchanges") = graft.ops.PlanMetrics.exchangeCount(df)
            val (n, bytes) = cacheState()
            res("cache_rdds") = n
            res("cache_bytes") = bytes
          }
          val ((rc, dg), _) = span("check")(Digest.of(df, p))
          res("rows") = rc
          res("digest") = dg
          recordDir.foreach(d => span("check")(df.write.parquet(s"$d/$name")))
          res("ok") = true
        } catch {
          case e: Throwable =>
            res("ok") = false
            res("error") = e.toString.take(500)
        }
        res ++= Map("name" -> name, "build_s" -> buildS, "plan_s" -> planS,
          "exec_s" -> execS, "s" -> (buildS + planS + execS))
        res.toMap
      }
      val tmpBytes = Option(new File(sys.props("java.io.tmpdir")).listFiles())
        .getOrElse(Array.empty[File]).filter(_.getName.startsWith("graft_"))
        .map(sizeOf).sum
      val oracle = recordDir.map { _ =>
        val sql = SparkEntry.oracleSql
        "oracle_sql" -> strs("queries").flatMap(q => sql.get(q).map(q -> _)).toMap
      }
      Map("queries" -> out, "registry" -> registry.keys.toSeq.sorted,
        "stage_once_tmp_bytes" -> tmpBytes) ++ oracle
    }

    private def sizeOf(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(sizeOf).sum
      else f.length()
  }
}
