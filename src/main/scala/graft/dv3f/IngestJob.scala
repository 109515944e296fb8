package graft.dv3f

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.{Failure, Success, Try}

/** JSON payload flattening (S2): the API returns
  * `{count, next, previous, results: [...]}`; the relation is the
  * flattened `results` array (reference: scripts/extract_load.py:81-91,
  * pandas json_normalize). Spark-side: parse + explode.
  */
object JsonFlatten {
  def flattenResults(spark: SparkSession, json: String): DataFrame = {
    import spark.implicits._
    val raw = spark.read.json(Seq(json).toDS())
    if (!raw.columns.contains("results"))
      throw new IllegalArgumentException("payload has no 'results' array")
    raw.select(explode(col("results")).as("r")).select("r.*")
  }
}

/** The ingestion job: dynamic fan-out over (scope, code) partitions with
  * per-branch error isolation (reference: scripts/etl.py:13-66 — Dagster
  * DynamicOut + mapped subgraph; each op try/excepts so one bad partition
  * never kills the run, scripts/etl.py:26-55).
  *
  * `fetch` is pluggable (the reference hits
  * https://apidf-preprod.cerema.fr; tests inject fixtures). Phase-1 shape:
  * fetch on the driver per partition, transform/load distributed. At real
  * scale the fetch belongs in a DataSource V2 reader with one
  * InputPartition per (scope, code) so HTTP runs on executors — the
  * transform/load below is already executor-side and unchanged by that
  * move.
  */
object IngestJob {
  final case class BranchReport(scope: String, code: String,
      rows: Long, error: Option[String]) {
    def ok: Boolean = error.isEmpty
  }

  type Fetcher = (String, String) => String // (scope, code) => payload JSON

  /** Run one branch: extract → transform → upsert. Returns a report, never
    * throws (D4 error isolation).
    */
  def runBranch(spark: SparkSession, fetch: Fetcher, warehouseDir: String)(
      scope: String, code: String): BranchReport =
    report(scope, code) {
      val table = Dv3fConfig.route(scope)
      val wide = JsonFlatten.flattenResults(spark, fetch(scope, code))
      val staged = Reshape.transform(wide, table)
      val n = staged.count()
      Upsert.upsertByName(spark, s"$warehouseDir/${table.name}", staged, table)
      Catalog.repointIfRegistered(spark, warehouseDir, table)
      n
    }

  /** Run one unit of work, log and return its report: the row count on
    * success, the error (never thrown) on failure.
    */
  private def report(scope: String, code: String)(work: => Long): BranchReport = {
    val r = Try(work) match {
      case Success(n) => BranchReport(scope, code, n, None)
      case Failure(e) => BranchReport(scope, code, 0, Some(e.toString))
    }
    RunLog.branch(r); r
  }

  /** Full run over the configured fan-out (D1/D2): sequential like the
    * reference's execute_in_process, but each branch is an independent
    * Spark job — trivially parallelizable with a .par collection or by
    * unioning staged frames per target table before one upsert (fewer
    * rewrites; preferred at scale).
    */
  def run(spark: SparkSession, fetch: Fetcher, warehouseDir: String,
      scopes: Seq[(String, String)] = Dv3fConfig.defaultScopes): Seq[BranchReport] =
    scopes.map { case (s, c) => runBranch(spark, fetch, warehouseDir)(s, c) }

  /** The at-scale shape: ONE job through the DSv2 `dv3f` source (fetch
    * and flatten on executors, one InputPartition per (scope, code)),
    * then ONE upsert per target table instead of a table rewrite per
    * branch. Error isolation moves down a level: a bad partition fails
    * its table's batch, the other table still lands.
    */
  def runViaSource(spark: SparkSession, payloadDir: String,
      warehouseDir: String): Seq[BranchReport] = {
    val longDf = spark.read.format("dv3f")
      .option("path", payloadDir).load()
    Dv3fConfig.staging.map { table =>
      report(table.scope, "*") {
        val staged = graft.sources.Dv3fSource.stage(longDf, table)
        val n = staged.count()
        if (n > 0) {
          Upsert.upsertByName(spark, s"$warehouseDir/${table.name}", staged, table)
          Catalog.repointIfRegistered(spark, warehouseDir, table)
        }
        n
      }
    }
  }
}
