package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.util.Random

import graft.config.DatasetConfig
import graft.pipeline.{GeoFixture, H3Config}

/** Seeded input generator. Every input a workload feeds the program is
  * derived from the workload seed here, so one seed always gives the
  * same inputs, and the program sees only these generated files and
  * strings.
  *
  * Sizes are fixed per workload; the seed moves only placement and
  * content, so two seeds give loads of the same size and shape. */
object Inputs {

  /** Datasets of one warehouse: both pipelines, each with its own
    * seeded customer draw and its own east shift, so replicas overlap
    * pairwise (shared cells give `h3_stats` multi-dataset groups). */
  val Datasets: Seq[(String, String)] = Seq(
    "biotop_a" -> "ext_restr", "avd_b" -> "avdelning")

  /** Features per dataset (a third each points, lines, polygons). */
  val FeaturesPerDataset = 60

  /** The seeded grid positions the features of a dataset cluster on,
    * about 12 features each: a 2x2 km probe over a site returns
    * objects, one elsewhere returns none. */
  val Sites = 5

  /** East shift between consecutive replicas, metres. */
  val ReplicaShiftM = 20000L

  /** The fixture box the replicas span (SWEREF99 TM metres). */
  val BoxW: Long = 556000L
  val BoxE: Long = 560000L + 63000L + ReplicaShiftM * (Datasets.size - 1) + 4000L
  val BoxS: Long = 6436000L
  val BoxN: Long = 6513000L

  private def rng(seed: Long, stream: Long): Random =
    new Random(seed * 1000003L + stream)

  /** GeoFixture's grid: a key's position is key mod 713 (31 columns
    * 2 km apart, 23 rows 3 km apart) and its geometry type key mod 3. */
  val Positions = 713

  /** The anchor point (SWEREF99 TM) of grid position `p` in replica `k`. */
  def anchor(p: Int, k: Int): (Long, Long) =
    (560000L + 2000L * (p % 31) + ReplicaShiftM * k, 6440000L + 3000L * ((7 * p) % 23))

  /** The seeded grid positions the features cluster on. */
  def sites(seed: Long): Vector[Int] =
    rng(seed, 5L).shuffle((0 until Positions).toVector).take(Sites)

  /** The anchors of every site in every replica. */
  def siteAnchors(seed: Long): Vector[(Long, Long)] =
    for (k <- Datasets.indices.toVector; p <- sites(seed)) yield anchor(p, k)

  /** A customer-shaped table (the columns GeoFixture reads) with
    * seeded distinct keys: the key decides the grid position and the
    * geometry type of the derived feature. The i-th key gets type
    * i % 3, so every seed has the same mix and only positions move. */
  def customers(spark: SparkSession, seed: Long, stream: Long): DataFrame = {
    val r = rng(seed, stream)
    val on = sites(seed)
    // key = position + 713 j (the j in 0..2 with the wanted type) + 2139 m
    def key(p: Int, t: Int): Long = {
      val j = (0 until 3).find(j => (p + Positions * j) % 3 == t).get
      p + Positions * j + 3L * Positions * (1 + r.nextInt(1000000))
    }
    val keys = Iterator.from(0).map(i => key(on(r.nextInt(on.size)), i % 3))
      .distinct.take(FeaturesPerDataset).toVector
    val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val rows = keys.map { k =>
      Row(k, f"Customer#$k%09d", r.nextInt(25), segments(r.nextInt(segments.size)))
    }
    frame(spark, rows, "c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_mktsegment" -> StringType)
  }

  /** A small driver-side table with an explicit schema. */
  def frame(spark: SparkSession, rows: Seq[Row], cols: (String, DataType)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(cols.map { case (n, t) => StructField(n, t) }))

  /** Write one geoparquet source per dataset under `dir` and return
    * the dataset configs the Runner reads them through. */
  def writeSources(spark: SparkSession, dir: String, seed: Long): Seq[DatasetConfig] =
    Datasets.zipWithIndex.map { case ((id, pipeline), k) =>
      val custDir = s"$dir/customers_$id"
      customers(spark, seed, 100L + k).coalesce(1)
        .write.mode("overwrite").parquet(s"$custDir/customer.parquet")
      val src = s"$dir/$id.parquet"
      GeoFixture(spark, custDir, eastOffset = ReplicaShiftM * k,
        fidOffset = 10000000L * k).drop("wkt").coalesce(1)
        .write.mode("overwrite").parquet(src)
      DatasetConfig(datasetId = id, pipeline = pipeline, plugin = "geoparquet",
        url = src, sourceIdColumn = "$source_id", klass = "$klass_raw",
        grupp = "fixture", typField = "synthetic", leverantor = "$lev_raw",
        h3 = H3Config())
    }

  def square(x: Long, y: Long, side: Long): String =
    s"POLYGON (($x $y, ${x + side} $y, ${x + side} ${y + side}, $x ${y + side}, $x $y))"

  /** A concave U shape `w` wide: two arms joined along the bottom. */
  def concave(x: Long, y: Long, w: Long): String = {
    val t = w / 3
    s"POLYGON (($x $y, ${x + w} $y, ${x + w} ${y + w}, ${x + 2 * t} ${y + w}, " +
      s"${x + 2 * t} ${y + t}, ${x + t} ${y + t}, ${x + t} ${y + w}, $x ${y + w}, $x $y))"
  }

  /** Probe kinds of the polygon_probe mix. */
  sealed trait ProbeKind
  case object Prepared extends ProbeKind
  case object FreshStats extends ProbeKind
  case object FreshHeatmap extends ProbeKind
  case object FreshExact extends ProbeKind

  /** One probe: its kind, its polygon, and the polygon's shape
    * (`2km`, `10km` or `concave`). */
  final case class Probe(kind: ProbeKind, wkt: String, shape: String)

  val ShapeNames: Vector[String] = Vector("2km", "10km", "concave")

  /** A point to place a query shape at: with probability `near` a
    * seeded site anchor moved by up to `jitter` metres south-west (so
    * a shape at least `jitter` wide covers the site), else a uniform
    * point of the fixture box leaving room for a `room`-metre shape. */
  private def place(r: Random, anchors: Vector[(Long, Long)], near: Double,
      jitter: Int, room: Long): (Long, Long) =
    if (anchors.nonEmpty && r.nextDouble() < near) {
      val (x, y) = anchors(r.nextInt(anchors.size))
      (x - 100 - r.nextInt(jitter - 200), y - 100 - r.nextInt(jitter - 200))
    } else
      (BoxW + (r.nextDouble() * (BoxE - BoxW - room)).toLong,
        BoxS + (r.nextDouble() * (BoxN - BoxS - room)).toLong)

  /** The probe schedule, in blocks of twenty with a fixed mix, so every
    * seed and every stretch of the schedule asks the same kinds of
    * question and only the placement moves. Per block: 14 probes go
    * through the prepared handle (8 on 2x2 km squares, 3 on 10x10 km
    * squares, 3 on 3 km concave shapes) and two each are freshly
    * planned stats, heatmap and exact-objects queries on 2x2 km
    * squares, so the fresh-plan latency does not swing with the shapes
    * a block happens to pair with it.
    * 70% of the new 2 km squares and half of the concave shapes cover
    * a site of the warehouse (dense); the rest and the 10 km squares
    * land uniformly over the fixture box (mostly empty, or a site);
    * 4 of the 20 revisit an earlier polygon of the same shape. */
  def probes(seed: Long, n: Int, anchors: Vector[(Long, Long)]): Vector[Probe] = {
    val r = rng(seed, 7L)
    val made = Array.fill(3)(Vector.empty[String])
    def polygon(shape: Int, revisit: Boolean): String =
      if (revisit && made(shape).nonEmpty) made(shape)(r.nextInt(made(shape).size))
      else {
        val w = shape match {
          case 0 => val (x, y) = place(r, anchors, 0.7, 2000, 2000); square(x, y, 2000)
          case 1 => val (x, y) = place(r, anchors, 0.0, 0, 10000); square(x, y, 10000)
          case _ => val (x, y) = place(r, anchors, 0.5, 1000, 3000); concave(x, y, 3000)
        }
        made(shape) :+= w
        w
      }
    val fresh = Vector(FreshStats, FreshHeatmap, FreshExact).flatMap(k => Vector(k -> 0, k -> 0))
    val prepared = (Vector.fill(8)(0) ++ Vector.fill(3)(1) ++ Vector.fill(3)(2)).map(Prepared -> _)
    val revisits = Vector.fill(4)(true) ++ Vector.fill(16)(false)
    Vector.fill((n + 19) / 20) {
      r.shuffle(prepared ++ fresh).zip(r.shuffle(revisits))
        .map { case ((k, sh), rv) => Probe(k, polygon(sh, rv), ShapeNames(sh)) }
    }.flatten.take(n)
  }

  /** The set-up's warm-up: every probe kind on one 2 km square over a
    * site, so no plan is compiled for the first time inside the timed
    * window (the plans do not depend on the polygon's shape), then 40
    * prepared probes of another schedule: the prepared path keeps
    * getting faster over its first few dozen calls in a fresh JVM. */
  def warmupProbes(seed: Long, anchors: Vector[(Long, Long)]): Vector[Probe] = {
    val r = rng(seed, 9L)
    val (x, y) = place(r, anchors, 1.0, 2000, 2000)
    Vector(Prepared, FreshStats, FreshHeatmap, FreshExact).map(Probe(_, square(x, y, 2000), "2km")) ++
      probes(seed + 1, 60, anchors).filter(_.kind == Prepared).take(40)
  }

  /** The spatial_join geometry table: seeded points, short lines and
    * small polygons near the warehouse's sites (so most touch a
    * feature and some miss), as WKT with an id. */
  def joinGeoms(seed: Long, n: Int, anchors: Vector[(Long, Long)]): Vector[(Long, String)] = {
    val r = rng(seed, 11L)
    (0 until n).map { i =>
      val (ax, ay) = anchors(r.nextInt(anchors.size))
      val x = ax + r.nextInt(1500) - 300
      val y = ay + r.nextInt(1200) - 300
      val wkt = i % 3 match {
        case 0 => s"POINT ($x $y)"
        case 1 => s"LINESTRING ($x $y, ${x + 400 + r.nextInt(1200)} ${y + r.nextInt(900)})"
        case _ => square(x, y, 200 + r.nextInt(600))
      }
      (i.toLong, wkt)
    }.toVector
  }

  /** Literal-polygon filters for the spatial_join SQL filter queries:
    * half over a site, half uniform. */
  def filterPolygons(seed: Long, n: Int, anchors: Vector[(Long, Long)]): Vector[String] = {
    val r = rng(seed, 13L)
    Vector.fill(n) {
      if (r.nextBoolean()) { val (x, y) = place(r, anchors, 0.5, 2000, 2000); square(x, y, 2000) }
      else { val (x, y) = place(r, anchors, 0.5, 1000, 3000); concave(x, y, 3000) }
    }
  }

  /** Seeded corpus in the documents.parquet shape (doc_id, text, lang,
    * source, n_chars): words drawn Zipf-like from a synthetic
    * vocabulary, with near-duplicate families — a third of the docs
    * copy an earlier doc and edit a few words — so the exact Jaccard
    * join has real pairs to find. */
  final class Corpus(seed: Long) {
    private val r = rng(seed, 17L)
    private val syll = Vector("ka", "lo", "mi", "ne", "su", "ta", "ri", "vo",
      "de", "ha", "gu", "pe", "sa", "to", "bi", "an", "el", "or", "un", "is")
    val vocab: Vector[String] = Iterator.continually {
      (0 until (2 + r.nextInt(3))).map(_ => syll(r.nextInt(syll.size))).mkString
    }.distinct.take(4000).toVector
    // Zipf(1) over the vocabulary, by inverse CDF
    private val cdf: Array[Double] = {
      val w = vocab.indices.map(i => 1.0 / (i + 1)).toArray
      val s = w.sum
      w.scanLeft(0.0)(_ + _ / s).tail
    }
    private def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      vocab(math.min(if (i >= 0) i else -i - 1, vocab.size - 1))
    }
    private def fresh(): Vector[String] = Vector.fill(40 + r.nextInt(60))(word())
    private def edit(ws: Vector[String]): Vector[String] =
      ws.map(w => if (r.nextDouble() < 0.04) word() else w)

    private var texts = Vector.empty[Vector[String]]

    /** `n` new documents: a third near-copies of an earlier text. */
    def next(n: Int): Vector[String] = {
      val out = Vector.fill(n) {
        val ws = if (texts.nonEmpty && r.nextDouble() < 0.33) edit(texts(r.nextInt(texts.size)))
          else fresh()
        texts :+= ws
        ws.mkString(" ")
      }
      out
    }

    /** A re-crawled version of `text`: a few words changed. */
    def recrawl(text: String): String = edit(text.split(" ").toVector).mkString(" ")

    def pick(n: Int, from: IndexedSeq[Long]): Vector[Long] =
      r.shuffle(from.toVector).take(n)
  }

  def docsFrame(spark: SparkSession, docs: Iterable[(Long, String)]): DataFrame =
    frame(spark, docs.toSeq.map { case (id, t) => Row(id, t, "en", s"src${id % 7}", t.length.toLong) },
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType)
}
