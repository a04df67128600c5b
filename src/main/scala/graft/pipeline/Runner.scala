package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try

import graft.config.DatasetConfig
import graft.sinks.ParquetFooter
import graft.sources.{SourceConnector, Sources}

/** Batch pipeline runner (`src/g_etl/pipeline.py` + `services/
  * pipeline_runner.py`, SURVEY §3.1): Extract (parallel) -> per-dataset
  * Transform chain (parallel) -> merge-by-union -> post-merge
  * h3_index/h3_stats views.
  *
  * Parallelism mapping: the reference's per-dataset temp-DuckDB files +
  * thread semaphores (ncpu extract, ncpu/2 transform;
  * `settings.py:89-90`) become concurrent Spark job submission from a
  * driver thread pool — Spark schedules partition-level parallelism
  * inside each job, dataset-level concurrency comes from submitting
  * jobs in parallel. "Merge" (ATTACH + copy, pipeline_runner.py:968-
  * 1065) dissolves into reading the per-dataset parquet dirs and
  * unioning lazily.
  *
  * Job budget. Every layer is written once and read back once with the
  * schema of the frame that wrote it (no parquet schema-inference job),
  * and every row count in [[RunResult]] comes from parquet footers (no
  * `count()` job). What is left is the writes themselves; per dataset:
  *  - extract: 2 (the source connector's own schema read, the raw write);
  *    1 when the ledger says the extract is applied (the raw layer is
  *    then read back with inference, since no writer ran);
  *  - stage004 and normalize: 1 write each;
  *  - mart `_h3`: 3 (range-bound sample, range shuffle, clustered write);
  *  - mart `_h3_compact`: 1.
  * Plus 3 for `h3_stats` (two aggregation shuffles, the write). A
  * 2-dataset build therefore submits 19 jobs (it was 52 when every
  * layer was re-inferred and counted); RunnerSpec holds it to 20.
  */
object Runner {

  final case class RunResult(
      extracted: Map[String, Try[Long]],
      transformed: Map[String, Try[Long]],
      indexRows: Long,
      statsRows: Long)

  def run(spark: SparkSession, datasets: Seq[DatasetConfig],
      registry: Map[String, SourceConnector], outDir: String,
      extractParallelism: Int = Runtime.getRuntime.availableProcessors(),
      transformParallelism: Int =
        math.max(2, Runtime.getRuntime.availableProcessors() / 2),
      ledger: Option[Ledger] = None): RunResult = {

    // ---- Extract (parallel, semaphore = ncpu)
    val extracts = parallel(datasets, extractParallelism) { cfg =>
      val rawPath = s"$outDir/raw/${cfg.datasetId}.parquet"
      val version = s"extract:${cfg.datasetId}"
      val stamp = s"${cfg.plugin}|${cfg.url}"
      val raw = if (ledger.exists(_.isApplied(version, stamp))) {
        // no writer in this run, so no known schema: the one inference read
        spark.read.parquet(rawPath)
      } else {
        val connector = registry.getOrElse(cfg.plugin,
          throw new IllegalArgumentException(s"unknown plugin: ${cfg.plugin}"))
        val df = connector.read(spark, Map("url" -> cfg.url))
        df.write.mode("overwrite").option("compression", "zstd").parquet(rawPath)
        ledger.foreach(_.record(version, stamp))
        spark.read.schema(df.schema).parquet(rawPath)
      }
      (ParquetFooter.rowCount(spark, rawPath), raw)
    }

    // ---- Transform (parallel, semaphore = max(2, ncpu/2)): each layer
    // is written once and read back once, with the writing frame's
    // schema; that read-back frame feeds the next stage and, below,
    // the layer's view and the index
    val okDatasets = datasets.filter(d => extracts(d.datasetId).isSuccess)
    val transformed = parallel(okDatasets, transformParallelism) { cfg =>
      val id = cfg.datasetId
      val raw = extracts(id).get._2
      val staged = writeBack(spark,
        Stages.stage004(Sources.normalizeGeometryColumn(raw), cfg.h3),
        s"$outDir/staging_004/$id.parquet")
      val normalized = writeBack(spark, cfg.pipeline match {
        case "avdelning" =>
          Stages.normalizeAvdelning(staged, cfg.fieldMapping, id)
        case _ =>
          Stages.normalizeExtRestr(staged, cfg.fieldMapping, id)
      }, s"$outDir/staging_${cfg.pipeline}_001/$id.parquet")
      // the measured probe-optimal layout IS the default (PERF.md r10:
      // clustered parquet probes flat at 116M rows; a cached
      // unclustered index goes linear past ~40M): materialized
      // query-res ancestor + range-clustered rows
      val martPath = s"$outDir/mart/${id}_h3.parquet"
      val mart = spark.read
        .schema(H3Index.writeClustered(Stages.martH3Cells(normalized, id), martPath))
        .parquet(martPath)
      Stages.martH3Compact(normalized).write.mode("overwrite")
        .parquet(s"$outDir/mart/${id}_h3_compact.parquet")
      Layers(raw, staged, normalized, mart, ParquetFooter.rowCount(spark, martPath))
    }

    // ---- layered-schema catalog: one temp view per (schema, dataset)
    // (`raw` -> `staging_004` -> `staging_{pipeline}_001` -> `mart`,
    // docs/architecture.md:233-275)
    val built = okDatasets.flatMap(d => transformed(d.datasetId).toOption.map(d -> _))
    built.foreach { case (d, l) =>
      l.raw.createOrReplaceTempView(s"raw_${d.datasetId}")
      l.staged.createOrReplaceTempView(s"staging_004_${d.datasetId}")
      l.normalized.createOrReplaceTempView(s"staging_${d.pipeline}_001_${d.datasetId}")
      l.mart.createOrReplaceTempView(s"mart_${d.datasetId}_h3")
    }

    // ---- Merge + post-merge: dynamic union view + stats pre-aggregate
    val index = H3Index.build(spark,
      built.map { case (d, l) => d.datasetId -> l.mart }.toMap)
    index.createOrReplaceTempView("h3_index")
    val statsPath = s"$outDir/mart/h3_stats.parquet"
    writeBack(spark, H3Index.stats(index), statsPath)
      .createOrReplaceTempView("h3_stats")

    // counts from parquet footers; the index is the union of the marts
    RunResult(
      extracts.map { case (id, t) => id -> t.map(_._1) },
      transformed.map { case (id, t) => id -> t.map(_.martRows) },
      built.map(_._2.martRows).sum,
      ParquetFooter.rowCount(spark, statsPath))
  }

  /** One dataset's layers, each the frame read back from its parquet. */
  private final case class Layers(raw: DataFrame, staged: DataFrame,
      normalized: DataFrame, mart: DataFrame, martRows: Long)

  /** Write `df` as parquet and read it back with `df`'s schema, so no
    * schema-inference job runs. */
  private def writeBack(spark: SparkSession, df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    spark.read.schema(df.schema).parquet(path)
  }

  private def parallel[A](items: Seq[DatasetConfig], parallelism: Int)(
      f: DatasetConfig => A): Map[String, Try[A]] = {
    val pool = Executors.newFixedThreadPool(math.max(parallelism, 1))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = items.map(cfg => cfg.datasetId -> Future(Try(f(cfg))))
      futures.map { case (id, fut) =>
        id -> Await.result(fut, 30.minutes)
      }.toMap
    } finally pool.shutdown()
  }
}
