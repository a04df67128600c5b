package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.config.DatasetConfig
import graft.ops.TextDedup
import graft.pipeline.{H3Index, H3Query, PreparedPolygonQuery, Runner, Stages}
import graft.sinks.Exporters
import graft.sources.{SourceConnector, Sources}

/** Shared state of one benchmark process: the session, the seed and a
  * scratch directory that every workload writes under. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long) {
  private var n = 0
  def fresh(name: String): String = {
    n += 1
    val d = s"$work/$name-$n"
    Files.createDirectories(Paths.get(d))
    d
  }
  def rm(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new File(path))
  def bytesUnder(path: String): Long =
    org.apache.commons.io.FileUtils.sizeOfDirectory(new File(path))
  val cores: Int = spark.sparkContext.defaultParallelism
  /** The latest index warehouse written for this seed, so a traced
    * pass can read it instead of writing its own. */
  var warehouse: Option[(Warehouse, String)] = None
}

/** The two operations of each workload: `MainOp` is the one the
  * workload exists for, `SideOp` its companion (see README.md). */
sealed trait Kind
case object MainOp extends Kind
case object SideOp extends Kind

final case class Op(kind: Kind, run: () => Unit)

/** One workload: a set-up that can be repeated, an endless seeded
  * schedule of op cycles for the closed-loop client (every cycle has
  * the same mix of ops, so a window of whole cycles always does), the
  * correctness gates run outside the timed window, and the traced pass
  * that records its spans. */
trait Workload {
  def setup(): Unit
  def cycles: Iterator[Seq[Op]]
  /** Named checks, each true when it passed. */
  def gate(): Seq[(String, Boolean)]
  def trace(t: Tracer, out: mutable.Map[String, Double]): Unit
}

object Workload {
  val Names: Seq[String] = Seq("etl_build", "polygon_probe", "spatial_join", "corpus_dedup")

  def apply(name: String, c: Ctx): Workload = name match {
    case "etl_build" => new EtlBuild(c)
    case "polygon_probe" => new PolygonProbe(c)
    case "spatial_join" => new SpatialJoin(c)
    case "corpus_dedup" => new CorpusDedup(c)
  }

  /** The per-span counters every traced span reports, as per-call
    * means over the span's calls. */
  def spanCounters(t: Tracer, name: String, out: mutable.Map[String, Double]): Unit = {
    val ss = t.spansNamed(name)
    require(ss.nonEmpty, s"span $name was never recorded")
    val ws = ss.map(s => t.jobs.window(s.startMs, s.endMs))
    val k = ss.size.toDouble
    out(s"$name.wall_s") = ss.map(_.wallS).sum / k
    out(s"$name.jobs") = ws.map(_.jobs).sum / k
    out(s"$name.tasks") = ws.map(_.tasks).sum / k
    out(s"$name.exec_cpu_s") = ws.map(_.cpuS).sum / k
    out(s"$name.shuffle_mb") = ws.map(_.shuffleMb).sum / k
    out(s"$name.spill_mb") = ws.map(_.spillMb).sum / k
    out(s"$name.gc_s") = ss.map(_.gcS).sum / k
  }

  def median(xs: Seq[Double]): Double = Stats.quantile(xs, 0.5)
}

/** The warehouse the pipeline writes: seeded sources, one Runner.run,
  * and the per-dataset marts read back from parquet. */
final class Warehouse(c: Ctx) {
  import c.spark
  val registry: Map[String, SourceConnector] = Sources.defaultRegistry(c.fresh("dl"))
  var srcDir: String = _
  var configs: Seq[DatasetConfig] = Nil

  def writeSources(): Unit = {
    if (srcDir != null) c.rm(srcDir)
    srcDir = c.fresh("src")
    configs = Inputs.writeSources(spark, srcDir, c.seed)
  }

  def build(out: String): Runner.RunResult = {
    val r = Runner.run(spark, configs, registry, out)
    val bad = (r.extracted ++ r.transformed).collect { case (id, f) if f.isFailure => id }
    require(bad.isEmpty, s"Runner.run failed on ${bad.mkString(", ")}")
    r
  }

  def marts(out: String, suffix: String): Map[String, DataFrame] =
    configs.map(d => d.datasetId ->
      spark.read.parquet(s"$out/mart/${d.datasetId}$suffix.parquet")).toMap

  /** The merged index over a build's marts, as Runner.run defines its
    * `h3_index` view. */
  def index(out: String): DataFrame = H3Index.build(spark, marts(out, "_h3"))

  /** Order-independent digest of one build: index rows, stats rows,
    * and the sum of xxhash64(id, h3_cell) over the index. */
  def digest(out: String): (Long, Long, BigDecimal) = {
    val r = index(out).agg(count(lit(1)),
      sum(xxhash64(col("id"), col("h3_cell")).cast("decimal(38,0)"))).head()
    (r.getLong(0), spark.read.parquet(s"$out/mart/h3_stats.parquet").count(),
      BigDecimal(r.getDecimal(1)))
  }

  def export(out: String, dest: String): Map[String, Seq[String]] =
    Exporters.exportMartTables(
      marts(out, "_h3_compact").map { case (id, df) => s"${id}_h3_compact" -> df }, dest)
}

/** etl_build: each main op is a full Runner.run over the seeded
  * sources; each side op exports the latest build's compact marts. */
final class EtlBuild(c: Ctx) extends Workload {
  private val wh = new Warehouse(c)
  /** Every build of the current set-up, the set-up's own first: the
    * gate checks that they all equal it. */
  private val builds = mutable.ArrayBuffer[String]()
  private val exports = mutable.ArrayBuffer[Map[String, Seq[String]]]()
  private var last: String = _

  def setup(): Unit = {
    builds.foreach(c.rm)
    builds.clear()
    wh.writeSources()
    last = c.fresh("build")
    wh.build(last)
    builds += last
  }

  /** A build, then exports of it. */
  def cycles: Iterator[Seq[Op]] = {
    val export = Op(SideOp, () => {
      val dest = c.fresh("export")
      exports += wh.export(last, dest)
      c.rm(dest)
    })
    Iterator.continually(Op(MainOp, () => {
      val out = c.fresh("build")
      builds += out
      wh.build(out)
      last = out
    }) +: Seq.fill(EtlBuild.ExportsPerBuild)(export))
  }

  def gate(): Seq[(String, Boolean)] = {
    require(builds.nonEmpty, "etl_build: nothing was built")
    val digests = builds.toSeq.map(wh.digest)
    val reference = digests.head
    System.err.println(s"[perfbench] etl_build index rows ${reference._1}, stats rows ${reference._2}")
    val perBuild = builds.toSeq.zip(digests).tail.map { case (b, d) =>
      s"etl_build: digest of ${new File(b).getName} equals the first build" -> (d == reference)
    }
    val exported = exports.toSeq.map(e =>
      "etl_build: every compact mart exported as parquet" ->
        (e.size == Inputs.Datasets.size && e.values.forall(_.contains("parquet"))))
    perBuild ++ exported :+ ("etl_build: index is not empty" -> (reference._1 > 0))
  }

  def trace(t: Tracer, out: mutable.Map[String, Double]): Unit = {
    import c.spark
    if (wh.configs.isEmpty) wh.writeSources()
    val dir = c.fresh("trace_build")
    val cfgs = wh.configs
    def p(layer: String, id: String) = s"$dir/$layer/$id.parquet"
    t.span("sources.extract") {
      cfgs.foreach { d =>
        wh.registry(d.plugin).read(spark, Map("url" -> d.url))
          .write.mode("overwrite").option("compression", "zstd").parquet(p("raw", d.datasetId))
        spark.read.parquet(p("raw", d.datasetId)).count()
      }
    }
    t.span("pipeline.stage004") {
      cfgs.foreach { d =>
        Stages.stage004(Sources.normalizeGeometryColumn(spark.read.parquet(p("raw", d.datasetId))), d.h3)
          .write.mode("overwrite").parquet(p("staging_004", d.datasetId))
      }
    }
    t.span("pipeline.normalize") {
      cfgs.foreach { d =>
        val staged = spark.read.parquet(p("staging_004", d.datasetId))
        val n = if (d.pipeline == "avdelning")
          Stages.normalizeAvdelning(staged, d.fieldMapping, d.datasetId)
        else Stages.normalizeExtRestr(staged, d.fieldMapping, d.datasetId)
        n.write.mode("overwrite").parquet(p("normalized", d.datasetId))
      }
    }
    t.span("pipeline.mart") {
      cfgs.foreach { d =>
        H3Index.writeClustered(
          Stages.martH3Cells(spark.read.parquet(p("normalized", d.datasetId)), d.datasetId),
          s"$dir/mart/${d.datasetId}_h3.parquet")
      }
    }
    t.span("pipeline.compact") {
      cfgs.foreach { d =>
        Stages.martH3Compact(spark.read.parquet(p("normalized", d.datasetId)))
          .write.mode("overwrite").parquet(s"$dir/mart/${d.datasetId}_h3_compact.parquet")
      }
    }
    t.span("pipeline.index_stats") {
      val idx = wh.index(dir)
      H3Index.stats(idx).write.mode("overwrite").parquet(s"$dir/mart/h3_stats.parquet")
      idx.count()
      spark.read.parquet(s"$dir/mart/h3_stats.parquet").count()
    }
    val dest = c.fresh("trace_export")
    t.span("sinks.export") { wh.export(dir, dest) }
    out("sinks.export_mb") = c.bytesUnder(dest) / 1048576.0
    val runnerOut = c.fresh("trace_runner")
    t.span("pipeline.runner") { wh.build(runnerOut) }
    builds += runnerOut
    c.warehouse = Some((wh, runnerOut))
    val stages = Seq("sources.extract", "pipeline.stage004", "pipeline.normalize",
      "pipeline.mart", "pipeline.compact", "pipeline.index_stats")
    Seq(stages :+ "sinks.export" :+ "pipeline.runner": _*)
      .foreach(Workload.spanCounters(t, _, out))
    out("pipeline.runner_overhead_s") =
      out("pipeline.runner.wall_s") - stages.map(s => out(s"$s.wall_s")).sum
    out("pipeline.parallel_efficiency") =
      out("pipeline.runner.exec_cpu_s") / (out("pipeline.runner.wall_s") * c.cores)
    Seq(dir, dest).foreach(c.rm)
  }
}

object EtlBuild {
  val ExportsPerBuild = 2
}

/** polygon_probe: polygon queries against the warehouse built in
  * set-up, through the prepared handle (main) or freshly planned
  * stats / heatmap / exact-object queries (side). */
final class PolygonProbe(c: Ctx) extends Workload {
  import c.spark
  private val wh = new Warehouse(c)
  private val anchors = Inputs.siteAnchors(c.seed)
  private var out: String = _
  private var index: DataFrame = _
  private var handle: PreparedPolygonQuery = _
  private val probes = Inputs.probes(c.seed, 20000, anchors)
  /** Rows each prepared probe of the window returned, by shape. */
  private val results = mutable.ArrayBuffer[(String, Long)]()

  def setup(): Unit = {
    if (out != null) c.rm(out)
    val t0 = System.nanoTime()
    wh.writeSources()
    val t1 = System.nanoTime()
    out = c.fresh("warehouse")
    wh.build(out)
    c.warehouse = Some((wh, out))
    val t2 = System.nanoTime()
    open(wh, out)
    val t3 = System.nanoTime()
    System.err.println(Seq(t0, t1, t2, t3).sliding(2).map(p => f"${(p(1) - p(0)) / 1e9}%.2f")
      .mkString("[perfbench] polygon_probe set-up sources/build/handle+warm-up (s): ", " ", ""))
  }

  /** The prepared handle over a built warehouse, warmed up. */
  private def open(w: Warehouse, dir: String): Unit = {
    index = w.index(dir)
    handle = PreparedPolygonQuery(index)
    Inputs.warmupProbes(c.seed, anchors).foreach(run)
  }

  private def run(p: Inputs.Probe): Long = p.kind match {
    case Inputs.Prepared => handle.objects(p.wkt).length.toLong
    case Inputs.FreshStats => H3Query.stats(spark, index, p.wkt).collect().length.toLong
    case Inputs.FreshHeatmap => H3Query.heatmap(spark, index, p.wkt).collect().length.toLong
    case Inputs.FreshExact => H3Query.objectsExact(spark, index, p.wkt).collect().length.toLong
  }

  /** Blocks of twenty probes, each with the schedule's fixed mix. */
  def cycles: Iterator[Seq[Op]] = Iterator.continually(probes).flatten.map { p =>
    if (p.kind == Inputs.Prepared) Op(MainOp, () => results += (p.shape -> run(p)))
    else Op(SideOp, () => run(p))
  }.grouped(20)

  private def ids(rows: Array[Row]): Seq[(String, String)] =
    rows.map(x => (x.getString(0), x.getString(1))).toSeq

  /** Prepared results equal H3Query.objects on seeded polygons of the
    * schedule: the first four for which the handle returns objects and
    * the first for which it returns none. */
  def gate(): Seq[(String, Boolean)] = {
    results.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (shape, rs) =>
      val n = rs.map(_._2.toDouble).toSeq
      System.err.println(f"[perfbench] polygon_probe prepared $shape: ${n.size} probes, " +
        f"${n.count(_ == 0) * 100.0 / n.size}%.0f%% empty, rows p50 ${Stats.quantile(n, 0.5)}%.0f " +
        f"p90 ${Stats.quantile(n, 0.9)}%.0f max ${n.max}%.0f")
    }
    val r = new scala.util.Random(c.seed)
    val hits = mutable.ArrayBuffer[(String, Seq[(String, String)])]()
    val misses = mutable.ArrayBuffer[(String, Seq[(String, String)])]()
    r.shuffle(probes.map(_.wkt).distinct).iterator.take(60)
      .takeWhile(_ => hits.size < 4 || misses.isEmpty).foreach { wkt =>
        val got = ids(handle.objects(wkt))
        if (got.nonEmpty && hits.size < 4) hits += wkt -> got
        else if (got.isEmpty && misses.isEmpty) misses += wkt -> got
      }
    (hits ++ misses).toSeq.map { case (wkt, got) =>
      "polygon_probe: prepared objects equal H3Query.objects" ->
        (got == ids(H3Query.objects(spark, index, wkt).collect()))
    } :+ ("polygon_probe: four gate polygons return objects" -> (hits.size == 4))
  }

  def trace(t: Tracer, m: mutable.Map[String, Double]): Unit = {
    if (handle == null) c.warehouse match {
      case Some((w, dir)) => open(w, dir)
      case None => setup()
    }
    val sample = probes.take(40)
    var rows = 0L
    sample.filter(_.kind == Inputs.Prepared).take(20).foreach { p =>
      rows += t.span("pipeline.probe_prepared")(run(p))
    }
    sample.filter(_.kind != Inputs.Prepared).take(4).foreach { p =>
      rows += t.span("pipeline.probe_fresh")(run(p))
    }
    Seq("pipeline.probe_prepared", "pipeline.probe_fresh")
      .foreach(Workload.spanCounters(t, _, m))
    val polyfill = sample.map { p =>
      val t0 = System.nanoTime()
      val n = PreparedPolygonQuery.cellIds(p.wkt, H3Query.DefaultQueryRes).length
      ((System.nanoTime() - t0) / 1e6, n.toDouble)
    }
    m("h3.polyfill_ms") = Workload.median(polyfill.map(_._1))
    m("h3.cells_per_probe") = Workload.median(polyfill.map(_._2))
    val read = (t.spansNamed("pipeline.probe_prepared") ++ t.spansNamed("pipeline.probe_fresh"))
      .map(s => t.jobs.window(s.startMs, s.endMs).recordsRead).sum
    m("pipeline.rows_scanned_per_result") = read.toDouble / math.max(rows, 1L)
    val fresh = t.spansNamed("pipeline.probe_fresh").flatMap(s => t.plans.window(s.startMs, s.endMs))
    m("plans.probe_fresh.optimization_ms") =
      Workload.median(fresh.map(_.phasesMs.getOrElse("optimization", 0L).toDouble))
    m("plans.probe_fresh.planning_ms") =
      Workload.median(fresh.map(_.phasesMs.getOrElse("planning", 0L).toDouble))
  }
}

/** spatial_join: declarative spatial SQL over the warehouse with the
  * graft rules opted in — an st_intersects join and an ST_DWithin join
  * of a seeded geometry table against h3_index (main), and
  * literal-polygon st_intersects filters (side). */
final class SpatialJoin(c: Ctx) extends Workload {
  import c.spark
  private val wh = new Warehouse(c)
  private var out: String = _
  private val anchors = Inputs.siteAnchors(c.seed)
  private val geoms = Inputs.joinGeoms(c.seed, SpatialJoin.Geometries, anchors)
  private val filters = Inputs.filterPolygons(c.seed, 400, anchors)

  private def rulesOn(on: Boolean): Unit = Seq(
    "spark.graft.h3Join.res", "spark.graft.h3Filter.res").foreach { k =>
    if (on) spark.conf.set(k, "8") else spark.conf.unset(k)
  }

  private def view(name: String, g: Seq[(Long, String)]): Unit =
    Inputs.frame(spark, g.map { case (id, w) => Row(id, w) }, "gid" -> LongType, "wkt" -> StringType)
      .select(col("gid"), expr("st_geomfromtext(wkt)").as("geom"))
      .createOrReplaceTempView(name)

  def setup(): Unit = {
    if (out != null) c.rm(out)
    wh.writeSources()
    out = c.fresh("warehouse")
    wh.build(out)
    open(wh, out)
    joinPair("bench_geoms")
    filter(filters.last)
  }

  private def open(w: Warehouse, dir: String): Unit = {
    w.index(dir).createOrReplaceTempView("h3_index")
    view("bench_geoms", geoms)
    view("bench_geoms_gate", geoms.take(6))
    rulesOn(true)
  }

  private def joinPair(table: String): Seq[Seq[(Long, String, String)]] = Seq(
    s"st_intersects(g.geom, i.geom)", s"st_distance(g.geom, i.geom) <= ${SpatialJoin.WithinM}"
  ).map { cond =>
    spark.sql(s"SELECT DISTINCT g.gid, i.id, i.dataset_id FROM $table g " +
      s"JOIN h3_index i ON $cond").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted
  }

  private def filter(wkt: String): Seq[(String, String)] =
    spark.sql("SELECT DISTINCT id, dataset_id FROM h3_index " +
      s"WHERE st_intersects(geom, st_geomfromtext('$wkt'))").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq.sorted

  /** A join pair, then three filters. */
  def cycles: Iterator[Seq[Op]] = Iterator.from(0).map { i =>
    Op(MainOp, () => joinPair("bench_geoms")) +:
      (0 until 3).map(j => Op(SideOp, () => filter(filters((3 * i + j) % filters.size))))
  }

  def gate(): Seq[(String, Boolean)] = {
    val fs = filters.take(3)
    val on = (joinPair("bench_geoms_gate"), fs.map(filter))
    rulesOn(false)
    val off = try (joinPair("bench_geoms_gate"), fs.map(filter)) finally rulesOn(true)
    Seq("spatial_join: joins equal with the rules on and off" -> (on._1 == off._1),
      "spatial_join: filters equal with the rules on and off" -> (on._2 == off._2),
      "spatial_join: the join finds pairs" -> on._1.exists(_.nonEmpty))
  }

  def trace(t: Tracer, m: mutable.Map[String, Double]): Unit = {
    if (out == null) c.warehouse match {
      case Some((w, dir)) => open(w, dir)
      case None => setup()
    }
    t.span("plans.spatial_join")(joinPair("bench_geoms"))
    filters.take(6).foreach(f => t.span("plans.sql_filter")(filter(f)))
    Seq("plans.spatial_join", "plans.sql_filter").foreach(Workload.spanCounters(t, _, m))
    def queries(span: String) = t.spansNamed(span).flatMap(s => t.plans.window(s.startMs, s.endMs))
    val joins = queries("plans.spatial_join")
    val filts = queries("plans.sql_filter")
    def opt(qs: Seq[PlanMeter#Query]) =
      Workload.median(qs.map(_.phasesMs.getOrElse("optimization", 0L).toDouble))
    m("plans.spatial_join.optimization_ms") = opt(joins)
    m("plans.sql_filter.optimization_ms") = opt(filts)
    def fired(qs: Seq[PlanMeter#Query], rule: String): Double = {
      val rs = qs.flatMap(_.rules.get(rule))
      rs.map(_.effective).sum.toDouble / math.max(rs.map(_.invocations).sum, 1L)
    }
    def ruleMs(qs: Seq[PlanMeter#Query], rule: String): Double =
      Workload.median(qs.map(_.rules.get(rule).map(_.timeNs / 1e6).getOrElse(0.0)))
    m("plans.h3join_fired") = fired(joins, "H3JoinRewrite")
    m("plans.h3filter_fired") = fired(filts, "H3IntersectsRewrite")
    m("plans.h3join_rule_ms") = ruleMs(joins, "H3JoinRewrite")
    m("plans.h3filter_rule_ms") = ruleMs(filts, "H3IntersectsRewrite")
    val refine = joins.flatMap(_.refine)
    // -1 marks "no refine in the plan": the join ran as a nested loop
    m("plans.refine_keep_ratio") =
      if (refine.isEmpty) -1.0 else refine.map(_._1).sum.toDouble / math.max(refine.map(_._2).sum, 1L)
  }
}

object SpatialJoin {
  val Geometries = 8
  val WithinM = 150.0
}

/** corpus_dedup: maintenance of an exact-Jaccard dedup state over a
  * seeded corpus — re-crawl cycles of remove + append (main) and
  * near-duplicate candidate passes (side). */
final class CorpusDedup(c: Ctx) extends Workload {
  import c.spark
  import CorpusDedup._
  private var corpus: Inputs.Corpus = _
  private val docs = mutable.LinkedHashMap[Long, String]()
  private var state: TextDedup.JaccardState = _

  private def force(s: TextDedup.JaccardState): Unit =
    Seq(s.toks, s.prefix, s.sizes, s.pairs).foreach(_.count())

  private def frame: DataFrame = Inputs.docsFrame(spark, docs)

  def setup(): Unit = {
    if (state != null) state.release()
    corpus = new Inputs.Corpus(c.seed)
    docs.clear()
    corpus.next(BaseDocs).zipWithIndex.foreach { case (t, i) => docs(i.toLong) = t }
    state = TextDedup.jaccardJoinState(frame, "doc_id", "text", Tau)
    force(state)
  }

  /** Remove a seeded batch and append its re-crawled versions. */
  private def cycle(t: Option[Tracer]): Unit = {
    def span[A](n: String)(b: => A): A = t.fold(b)(_.span(n)(b))
    val ids = corpus.pick(Batch, docs.keys.toIndexedSeq)
    val removed = span("ops.dedup_remove") {
      val s = TextDedup.jaccardJoinRemove(state,
        Inputs.frame(spark, ids.map(Row(_)), "doc_id" -> LongType), "doc_id")
      force(s)
      s
    }
    ids.foreach(id => docs(id) = corpus.recrawl(docs(id)))
    val appended = span("ops.dedup_append") {
      val s = TextDedup.jaccardJoinAppend(removed,
        Inputs.docsFrame(spark, ids.map(id => id -> docs(id))), "doc_id", "text")
      force(s)
      s
    }
    state.releaseSuperseded(removed)
    removed.releaseSuperseded(appended)
    state = appended
  }

  private def nearDup(): Unit = {
    val f = frame
    TextDedup.minHashCandidates(f, "doc_id", "text").count()
    TextDedup.simHashCandidatesMd5(f, "doc_id", "text").count()
  }

  /** A re-crawl cycle, then a near-duplicate pass. */
  def cycles: Iterator[Seq[Op]] =
    Iterator.continually(Seq(Op(MainOp, () => cycle(None)), Op(SideOp, () => nearDup())))

  def gate(): Seq[(String, Boolean)] = {
    def triples(df: DataFrame) = df.select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    val want = triples(TextDedup.jaccardJoin(frame, "doc_id", "text", Tau))
    Seq("corpus_dedup: maintained pairs equal TextDedup.jaccardJoin" ->
      (triples(state.pairs) == want),
      "corpus_dedup: the corpus has near-duplicate pairs" -> want.nonEmpty)
  }

  def trace(t: Tracer, m: mutable.Map[String, Double]): Unit = {
    if (state == null) setup()
    cycle(Some(t))
    t.span("ops.neardup")(nearDup())
    Seq("ops.dedup_remove", "ops.dedup_append", "ops.neardup")
      .foreach(Workload.spanCounters(t, _, m))
    val held = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    m("ops.persisted_mb_after") = held.map(r => r.memSize + r.diskSize).sum / 1048576.0
    m("ops.persisted_rdds_after") = held.length.toDouble
  }
}

object CorpusDedup {
  val BaseDocs = 600
  val Batch = 30
  val Tau = 0.8
}
