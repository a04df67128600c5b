package graft.sinks

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.format.{FileMetaData, KeyValue, Util}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

/** Parquet footer key-value rewrite — the missing piece for REAL
  * GeoParquet output (`src/g_etl/export.py:259-281` writes the `geo`
  * key via geopandas): Spark's parquet writer offers no hook for custom
  * file-level metadata, but the footer is just a thrift FileMetaData
  * block at the tail of the file
  * ([PAR1][row groups][footer][len LE32][PAR1], parquet-format spec),
  * and parquet-format-structures (already on Spark's classpath) exposes
  * the public read/write codec for it. So: deserialize the footer,
  * append the key-values, serialize back, and splice the new tail on —
  * row groups are untouched, so the rewrite is O(footer), not O(data).
  *
  * The same footers also carry each file's row count, which
  * [[rowCount]] sums so writers can report rows without a Spark job.
  */
object ParquetFooter {

  private val Magic = "PAR1".getBytes("US-ASCII")

  /** Append key-value pairs to one parquet file's footer in place
    * (replacing existing values for the same keys). */
  def addKeyValue(file: Path, kvs: Map[String, String]): Unit = {
    val bytes = Files.readAllBytes(file)
    require(bytes.length > 12 &&
      bytes.take(4).sameElements(Magic) &&
      bytes.takeRight(4).sameElements(Magic),
      s"not a parquet file: $file")
    val n = bytes.length
    val footerLen = (bytes(n - 8) & 0xFF) | ((bytes(n - 7) & 0xFF) << 8) |
      ((bytes(n - 6) & 0xFF) << 16) | ((bytes(n - 5) & 0xFF) << 24)
    val footerStart = n - 8 - footerLen
    require(footerStart >= 4, s"corrupt footer length $footerLen in $file")
    val fmd: FileMetaData = Util.readFileMetaData(
      new ByteArrayInputStream(bytes, footerStart, footerLen))
    val keep = Option(fmd.getKey_value_metadata)
      .map(_.asScala.filterNot(kv => kvs.contains(kv.getKey)).toList)
      .getOrElse(Nil)
    fmd.unsetKey_value_metadata()
    (keep ++ kvs.toSeq.sortBy(_._1).map { case (k, v) =>
      new KeyValue(k).setValue(v)
    }).foreach(fmd.addToKey_value_metadata)
    val out = new ByteArrayOutputStream()
    Util.writeFileMetaData(fmd, out)
    val newFooter = out.toByteArray
    val result = new ByteArrayOutputStream(footerStart + newFooter.length + 8)
    result.write(bytes, 0, footerStart)
    result.write(newFooter)
    val l = newFooter.length
    result.write(Array[Byte]((l & 0xFF).toByte, ((l >> 8) & 0xFF).toByte,
      ((l >> 16) & 0xFF).toByte, ((l >> 24) & 0xFF).toByte))
    result.write(Magic)
    Files.write(file, result.toByteArray)
    // Hadoop's checksummed LocalFileSystem keeps a `.name.crc` sidecar;
    // it no longer matches the rewritten bytes and would fail readers —
    // drop it (object stores and HDFS don't use sidecar CRCs).
    Files.deleteIfExists(
      file.resolveSibling("." + file.getFileName.toString + ".crc"))
  }

  /** Read a parquet file's footer key-value metadata. */
  def readKeyValue(file: Path): Map[String, String] = {
    val bytes = Files.readAllBytes(file)
    val n = bytes.length
    val footerLen = (bytes(n - 8) & 0xFF) | ((bytes(n - 7) & 0xFF) << 8) |
      ((bytes(n - 6) & 0xFF) << 16) | ((bytes(n - 5) & 0xFF) << 24)
    val fmd = Util.readFileMetaData(
      new ByteArrayInputStream(bytes, n - 8 - footerLen, footerLen))
    Option(fmd.getKey_value_metadata)
      .map(_.asScala.map(kv => kv.getKey -> kv.getValue).toMap)
      .getOrElse(Map.empty)
  }

  /** Apply [[addKeyValue]] to every part file of a Spark parquet output
    * directory. Driver-side over the local filesystem; on an object
    * store, run the same rewrite in a foreachPartition over file paths. */
  def addKeyValueToDir(dir: String, kvs: Map[String, String]): Unit =
    parquetParts(dir).foreach(addKeyValue(_, kvs))

  /** Rows in a parquet output directory, summed from the part files'
    * footers: no Spark job, no schema inference. Files and directories
    * whose names start with `_` or `.` (`_SUCCESS`, `.crc` sidecars) are
    * skipped, as Spark's file listing skips them; partition
    * subdirectories are walked. Goes through the Hadoop FileSystem, so
    * it works on any store Spark itself writes to. */
  def rowCount(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new HPath(dir)
    val fs = root.getFileSystem(conf)
    def visible(p: HPath) = !p.getName.startsWith("_") && !p.getName.startsWith(".")
    def count(p: HPath): Long =
      fs.listStatus(p).iterator.filter(s => visible(s.getPath)).map { s =>
        if (s.isDirectory) count(s.getPath)
        else {
          val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(s, conf))
          try reader.getRecordCount finally reader.close()
        }
      }.sum
    count(root)
  }

  /** The .parquet part files of a Spark output directory (stream closed). */
  def parquetParts(dir: String): Seq[java.nio.file.Path] = {
    val listing = Files.list(Paths.get(dir))
    try listing.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    finally listing.close()
  }
}
