package graft.jobs

import graft.config.{LayoutPolicy, PipelineConfig}
import graft.ledger.{LocalJsonLedger, RunId}
import graft.orchestrate.Orchestrator
import graft.sources.{JdbcSnapshotSource, ParquetSource, SourceReader}
import org.apache.spark.sql.SparkSession

import java.nio.file.Paths

/** Runnable job entry point (SURVEY §2.1 op #16) — the engine's
  * equivalent of the reference's Glue job-argument resolution
  * (reference: glue src/raw_layer_job.py:29-36 /
  * prepared_layer_job.py:25-32): resolve args → config → run the layer.
  *
  * Usage:
  *   runMain graft.jobs.Main --pipelines-dir <dir> --job_src <name>
  *     --layer raw|prepared|e2e|compact|cluster|zorder [--run-id <id>]
  *     [--target-file-bytes <n>] [--cluster-by <col[,col...]>]
  *
  * Credentials for JDBC-mode pipelines come from the environment
  * (GRAFT_JDBC_URL/DRIVER/USER/PASSWORD/SCHEMA), never from config
  * (divergence from the reference's hardcoded creds, SURVEY §2.1). A
  * `CDSView` that points at a parquet path selects the offline parquet
  * source instead.
  */
object Main {
  private val Usage =
    "usage: graft.jobs.Main --pipelines-dir <dir> --job_src <name> " +
      "[--layer raw|prepared|e2e|compact|cluster|zorder] [--run-id <id>] " +
      "[--target-file-bytes <n>] [--cluster-by <col[,col...]>]"

  /** Fail-fast argument resolution (the reference's `getResolvedOptions`
    * semantics: a malformed invocation raises instead of silently
    * shifting later flags — reference glue src/raw_layer_job.py:29-36). */
  private[jobs] def parseArgs(args: Array[String]): Map[String, String] = {
    if (args.length % 2 != 0)
      sys.error(s"unpaired argument '${args.last}'\n$Usage")
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k -> v
      case Array(k, _) => sys.error(s"expected a --flag, got '$k'\n$Usage")
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    def req(k: String): String =
      opts.getOrElse(k, sys.error(s"missing required argument $k\n$Usage"))
    val pipelinesDir = Paths.get(req("--pipelines-dir"))
    val jobSrc = req("--job_src")
    val cfg = PipelineConfig.loadAll(pipelinesDir).find(_.jobSrc == jobSrc)
      .getOrElse(sys.error(s"no pipeline with job_src '$jobSrc' under $pipelinesDir"))
    val spark = graft.GraftSession(cfg.displayName)
    try println(runLayer(spark, cfg, opts))
    finally spark.stop()
  }

  /** Run the `--layer` (default `e2e`) that `opts` names for `cfg` on
    * `spark`, and return its one-line report. The maintenance layers
    * (`compact`, `cluster`, `zorder`) go through
    * [[Orchestrator.rewritePrepared]], so a log-backed pipeline is
    * rewritten through its manifest exactly as scheduled maintenance
    * does it. */
  def runLayer(spark: SparkSession, cfg: PipelineConfig,
      opts: Map[String, String]): String = {
    val layer = opts.getOrElse("--layer", "e2e")
    val runId = opts.getOrElse("--run-id", RunId())
    val ledger = new LocalJsonLedger(
      Paths.get(cfg.rawRoot, "_ledger", cfg.ledgerName))
    def source: SourceReader =
      if (cfg.cdsView.endsWith(".parquet")) ParquetSource(cfg.cdsView)
      else JdbcSnapshotSource(
        url = sys.env.getOrElse("GRAFT_JDBC_URL", sys.error("GRAFT_JDBC_URL unset for JDBC pipeline")),
        driver = sys.env.getOrElse("GRAFT_JDBC_DRIVER", "com.mysql.cj.jdbc.Driver"),
        dbSchema = sys.env.getOrElse("GRAFT_JDBC_SCHEMA", "test"),
        view = cfg.cdsView) // credentials: EnvCredentials default (GRAFT_JDBC_USER/_PASSWORD)
    val targetBytes = opts.get("--target-file-bytes").map(_.toLong)
      .getOrElse(128L << 20)
    def maintain(job: String, policy: Option[LayoutPolicy]): String =
      Orchestrator.rewritePrepared(spark, cfg, policy, targetBytes) match {
        case Some(m) => s"[$job] mode=$layer path=${cfg.preparedPath} " +
          s"files=${m.filesBefore}->${m.filesAfter} rewritten=true"
        case None => s"[$job] mode=$layer path=${cfg.preparedPath} rewritten=false"
      }
    layer match {
      case "raw" =>
        val m = Orchestrator.ingest(spark, cfg, source, ledger, runId)
        s"[raw_layer_job] runId=${m.runId} rows=${m.rows} path=${m.path}"
      case "prepared" =>
        val ms = Orchestrator.drain(spark, cfg, ledger)
        if (ms.isEmpty) "[prepared_layer_job] nothing pending"
        else ms.map(m => s"[prepared_layer_job] promoted runId=${m.runId} " +
          s"rows=${m.rows} -> ${m.path}").mkString("\n")
      case "e2e" =>
        val table = Orchestrator.runEndToEnd(spark, cfg, source, ledger, runId)
        s"[e2e] runId=$runId table=$table rows=${spark.table(table).count()}"
      case "compact" => maintain(CompactionJob.JobName, None)
      case "cluster" | "zorder" =>
        val cols = opts.getOrElse("--cluster-by",
          sys.error(s"--layer $layer requires --cluster-by <col[,col...]>"))
          .split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        maintain(LayoutJob.JobName, Some(LayoutPolicy(cols, zorder = layer == "zorder")))
      case other => sys.error(s"unknown --layer '$other' (raw|prepared|e2e|compact|cluster|zorder)")
    }
  }
}
