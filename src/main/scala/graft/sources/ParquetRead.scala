package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

import scala.util.control.NonFatal

/** The one parquet read path of the pipeline, the warehouse and the lake.
  *
  * Read contract: the data schema comes from ONE footer, read on the
  * driver. It is the file Spark's non-merge schema inference would pick —
  * the lexicographically first non-hidden data file, found by descending
  * into `key=value` partition directories — and the conversion is the one
  * that inference runs on that footer (`ParquetFileFormat.readSchemaFromFooter`
  * under the reading session's SQLConf, so binary-as-string, INT96 and
  * `nanosAsLong` settings match). The resolved schema is then handed to
  * `spark.read.schema(...)`, so a plain `spark.read.parquet` and this read
  * return the same columns, types, nullability and order (partition columns
  * last, typed by the same path inference) — without the one-task Spark job
  * the inference would launch for every table read.
  *
  * The footer is re-read from the live files on every call: there is no
  * cache, so a replaced table never serves a stale schema. Whenever the
  * driver cannot reproduce the inference exactly — a glob, a missing
  * path, no data file, a summary file, an unreadable footer, or session
  * schema merging (`spark.sql.parquet.mergeSchema`) — the read falls back
  * to plain `spark.read.parquet`, so its result and its errors stay
  * Spark's own. An explicit `schema` skips the footer entirely. A read
  * that must merge every footer (TxnLake's legacy-log `subsetReadSchema`)
  * deliberately keeps Spark's own path.
  */
object ParquetRead {

  def apply(spark: SparkSession, paths: Seq[String],
            schema: Option[StructType] = None): DataFrame =
    schema.orElse(footerSchema(spark, paths)) match {
      case Some(st) => spark.read.schema(st).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** The schema Spark's non-merge inference would derive for `paths`, read
    * on the driver; None where only Spark's own inference is exact. */
  private def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (paths.isEmpty || conf.isParquetSchemaMergingEnabled ||
        paths.exists(p => GlobChars.exists(p.contains(_)))) return None
    try {
      val hadoopConf = spark.sessionState.newHadoopConf()
      firstDataFile(paths, hadoopConf).map { f =>
        val footer = new Footer(f.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hadoopConf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS))
        ParquetFileFormat.readSchemaFromFooter(footer,
          new ParquetToSparkSchemaConverter(
            assumeBinaryIsString = conf.isParquetBinaryAsString,
            assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
            inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
            nanosAsLong = conf.legacyParquetNanosAsLong,
            respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation))
      }
    } catch {
      case NonFatal(_) => None
    }
  }

  private val GlobChars = "{}[]*?\\"

  /** Spark's file-index name filter: `_`- and `.`-prefixed names are
    * hidden unless they name a partition directory (`_k=v`). */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  private final class SummaryFileFound extends RuntimeException

  /** The data file with the smallest path string across `paths` — the
    * file inference reads. Roots are visited in path order and the walk
    * stops once no later root can hold a smaller path (every file under a
    * root sorts after the root itself), so a list of data files costs one
    * status call. */
  private def firstDataFile(paths: Seq[String], hadoopConf: Configuration): Option[FileStatus] = {
    val roots = paths.map { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(hadoopConf)
      (fs, fs.makeQualified(path))
    }.sortBy(_._2.toString)
    roots.foldLeft(Option.empty[FileStatus]) { case (best, (fs, root)) =>
      if (best.exists(_.getPath.toString <= root.toString)) best
      else {
        val st = fs.getFileStatus(root)
        val found =
          if (st.isDirectory) firstUnder(fs, root)
          else Some(st).filterNot(s => hidden(s.getPath.getName))
        (best ++ found).minByOption(_.getPath.toString)
      }
    }
  }

  /** Depth-first in path-string order: siblings sort by name, a
    * directory as `name/`, which is exactly the order of the full paths
    * beneath them. */
  private def firstUnder(fs: FileSystem, dir: Path): Option[FileStatus] = {
    val kids = fs.listStatus(dir)
    if (kids.exists(k => k.isFile && ParquetSummaryFiles(k.getPath.getName)))
      throw new SummaryFileFound
    kids.filterNot(k => hidden(k.getPath.getName))
      .sortBy(k => if (k.isDirectory) k.getPath.getName + "/" else k.getPath.getName)
      .iterator
      .flatMap { k =>
        if (!k.isDirectory) Some(k)
        else if (k.getPath.getName.indexOf('=') > 0) firstUnder(fs, k.getPath)
        else None
      }
      .nextOption()
  }

  /** Parquet summary files, which Spark's inference prefers to any data
    * file; a table carrying one keeps Spark's own path. */
  private val ParquetSummaryFiles = Set("_metadata", "_common_metadata")
}
