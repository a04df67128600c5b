package graft.pipeline

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.grafttest.SparkAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.DatasetConfig
import graft.sources.Sources

/** `Runner.run` writes each layer once, reads it back once with the
  * writer's schema and takes its row counts from parquet footers. These
  * specs pin the job budget that buys, and that the counts and view
  * schemas are the ones a plain parquet read of the written files gives. */
class RunnerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Two geoparquet sources from disjoint fixture slices, one per
    * pipeline, so both normalize variants run. The fixture's customer
    * table is generated here: 300 keys, so every geometry type occurs. */
  private lazy val datasets: Seq[DatasetConfig] = {
    val dir = Files.createTempDirectory("runner_spec_src").toString
    val segments = array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE").map(lit): _*)
    spark.range(1, 301).select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        (col("id") % 25).cast("int").as("c_nationkey"),
        element_at(segments, (col("id") % 3 + 1).cast("int")).as("c_mktsegment"))
      .coalesce(1).write.parquet(s"$dir/customer.parquet")
    val fx = GeoFixture(spark, dir).drop("wkt")
    Seq(("ext_a", "ext_restr", fx.filter(col("fid") % 2 === 0)),
        ("avd_b", "avdelning", fx.filter(col("fid") % 2 === 1))).map {
      case (id, pipeline, df) =>
        val url = s"$dir/$id.parquet"
        df.limit(150).coalesce(1).write.mode("overwrite").parquet(url)
        DatasetConfig(datasetId = id, pipeline = pipeline, plugin = "geoparquet",
          url = url, sourceIdColumn = "$source_id", klass = "$klass_raw",
          grupp = "fixture", typField = "synthetic", leverantor = "$lev_raw",
          h3 = H3Config())
    }
  }

  private def run(out: String, ledger: Option[Ledger] = None): Runner.RunResult = {
    val r = Runner.run(spark, datasets, Sources.defaultRegistry(), out, ledger = ledger)
    (r.extracted ++ r.transformed).foreach { case (id, t) =>
      assert(t.isSuccess, s"$id failed: $t")
    }
    r
  }

  private def freshDir(): String = Files.createTempDirectory("runner_spec_out").toString

  /** Each layer view with the parquet directory it was read back from. */
  private def layerViews(out: String): Seq[(String, String)] =
    datasets.flatMap { d =>
      val id = d.datasetId
      Seq(s"raw_$id" -> s"$out/raw/$id.parquet",
        s"staging_004_$id" -> s"$out/staging_004/$id.parquet",
        s"staging_${d.pipeline}_001_$id" -> s"$out/staging_${d.pipeline}_001/$id.parquet",
        s"mart_${id}_h3" -> s"$out/mart/${id}_h3.parquet")
    } :+ ("h3_stats" -> s"$out/mart/h3_stats.parquet")

  test("a 2-dataset Runner.run submits at most 20 Spark jobs") {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    val sc = spark.sparkContext
    assert(datasets.size == 2) // the sources are written outside the count
    SparkAccess.drain(sc)
    sc.addSparkListener(listener)
    try {
      run(freshDir())
      SparkAccess.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get() > 0, "the listener saw no job")
    assert(jobs.get() <= 20, s"Runner.run submitted ${jobs.get()} jobs")
  }

  test("RunResult counts equal count() of each layer, fresh and ledger-applied") {
    val out = freshDir()
    val ledger = Ledger.at(out)
    Seq("fresh", "ledger-applied").foreach { pass =>
      if (pass == "ledger-applied") datasets.foreach { d =>
        assert(ledger.isApplied(s"extract:${d.datasetId}", s"${d.plugin}|${d.url}"))
      }
      val r = run(out, Some(ledger))
      datasets.foreach { d =>
        val id = d.datasetId
        assert(r.extracted(id).get == spark.read.parquet(s"$out/raw/$id.parquet").count(),
          s"$pass: extract count of $id")
        assert(r.transformed(id).get == spark.read.parquet(s"$out/mart/${id}_h3.parquet").count(),
          s"$pass: mart count of $id")
        assert(r.extracted(id).get > 0 && r.transformed(id).get > 0)
      }
      assert(r.indexRows == spark.table("h3_index").count(), s"$pass: index count")
      assert(r.statsRows == spark.read.parquet(s"$out/mart/h3_stats.parquet").count(),
        s"$pass: stats count")
      assert(r.statsRows == spark.table("h3_stats").count())
    }
  }

  test("every layer view has the schema of a plain parquet read of its files") {
    val out = freshDir()
    run(out)
    layerViews(out).foreach { case (view, path) =>
      assert(spark.table(view).schema == spark.read.parquet(path).schema, view)
    }
    val inferredIndex = H3Index.build(spark, datasets.map(d => d.datasetId ->
      spark.read.parquet(s"$out/mart/${d.datasetId}_h3.parquet")).toMap)
    assert(spark.table("h3_index").schema == inferredIndex.schema)
  }
}
