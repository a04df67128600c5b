package graft

import org.apache.spark.sql.functions._
import graft.functions.GFunctions._

/** Scratch profiler: times each stage004 sub-expression in isolation
  * over the sf fixture so optimization effort lands on the real hot
  * spot. Not part of the driver contract.
  */
object ProfileStage {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.localBuilder("graft-profile", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val fx = graft.pipeline.GeoFixture(spark, sfDir)
      .repartition(spark.sparkContext.defaultParallelism)
      .persist()
    fx.count()

    def time(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"$name%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val gt = st_geometrytype(col("geom"))
    time("validate")(noop(fx.select(g_validate_geom(col("geom")))))
    time("md5+json")(noop(fx.select(md5(to_json(struct(col("fid"), col("source_id"),
      col("klass_raw"), col("lev_raw"), col("name"), col("wkt"))).cast("binary")))))
    time("centroid")(noop(fx.select(g_centroid_lat(col("geom")), g_centroid_lng(col("geom")))))
    time("h3_center_r13")(noop(fx.select(g_h3_center(g_centroid_lat(col("geom")),
      g_centroid_lng(col("geom")), lit(13)))))
    time("poly_cells_r11")(noop(fx.filter(gt === "POLYGON")
      .select(g_h3_polygon_cells(col("geom"), lit(11)))))
    time("line_cells_r12")(noop(fx.filter(gt === "LINESTRING")
      .select(g_h3_line_cells(col("geom"), lit(10.0), lit(12)))))
    time("point_cells_r13")(noop(fx.filter(gt === "POINT")
      .select(g_h3_point_cells(col("geom"), lit(13)))))
    time("compact_of_poly")(noop(fx.filter(gt === "POLYGON")
      .select(h3_compact_cells(g_h3_polygon_cells(col("geom"), lit(11))))))
    time("full_stage004")(noop(graft.pipeline.Stages.stage004(fx)))

    // ---- q63 decomposition
    import graft.pipeline._
    val fm = FieldMapping(Map("source_id" -> "$source_id",
      "klass" -> "$klass_raw", "grupp" -> "fixture", "typ" -> "synthetic",
      "leverantor" -> "$lev_raw", "data_1" -> "$name"))
    val staged = Stages.stage004(fx).persist()
    time("staged_persist")(staged.count())
    val core = Stages.martH3Core(
      Stages.normalizeExtRestr(staged, fm, "geo_cust"), "geo_cust").persist()
    time("mart_core_persist")(println("mart rows: " + core.count()))
    time("distinct_cells")(println("cells: " +
      core.select("h3_cell").distinct().count()))
    val parity = conv(substring(col("id"), 1, 2), 16, 10).cast("int") % 2
    val even = core.filter(parity === 0).withColumn("dataset", lit("geo_even"))
    val odd = core.filter(parity === 1).withColumn("dataset", lit("geo_odd"))
    val idx = H3Index.withParentAt(
      H3Index.build(spark, Map("geo_even" -> Stages.martH3Derived(even),
        "geo_odd" -> Stages.martH3Derived(odd))).drop("geom"), 8).persist()
    time("index_core_persist")(idx.count())
    time("count_top50")(noop(idx.groupBy("h3_cell")
      .agg(count(lit(1)).as("object_count"))
      .orderBy(desc("object_count"), asc("h3_cell")).limit(50)))
    time("statsTop50")(noop(H3Index.statsTop(idx, 50)))
    time("full_stats")(noop(H3Index.stats(idx)))
    spark.stop()
  }
}
