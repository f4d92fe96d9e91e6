package graft.sources

import java.io.FileNotFoundException

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet table reads whose schema is resolved on the driver.
  *
  * `spark.read.parquet(path)` infers the schema with a one-task Spark job
  * that reads one footer, even for a single file with schema merging off:
  * a scheduler round trip per table read, which on small tables is most of
  * the read's cost. Here the driver reads that footer itself and hands the
  * schema to the reader, so planning the scan runs no job. The schema is
  * derived exactly as Spark's inference derives it: the Spark row-metadata
  * key when the writer stored one, else the converted parquet schema under
  * the session's conf. As with Spark's inference without schema merging,
  * every data file of the table is assumed to share the first one's schema;
  * parquet summary files (`_metadata`, `_common_metadata`), which Spark
  * consults first but does not write by default, are not read.
  *
  * The footer is read again on every call: a table rewritten in place must
  * not be read with a stale schema. */
object ParquetTables {

  /** The table at `path` (a parquet file or a directory of them). A path
    * with no data file, or no path at all, is left to `spark.read.parquet`,
    * so it fails or succeeds exactly as a plain read does; so is every read
    * of a session that merges the schemas of all files. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val footer =
      if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None else schema(spark, path)
    footer match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** The schema Spark's inference would give the table at `path`, from the
    * footer of its first data file; None when there is no data file. */
  private def schema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    firstDataFile(new Path(path), conf).map { file =>
      val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  /** Names Spark's file index skips: hidden and underscore files (_SUCCESS,
    * .crc, _temporary/), except partition directories like `_k=v`. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")

  /** The rows of each data file of the table at `path`, in path order,
    * from the footers read on the driver: no Spark job. Empty when there
    * is no data file. */
  def fileRowCounts(spark: SparkSession, path: String): Seq[Long] = {
    val conf = spark.sessionState.newHadoopConf()
    dataFiles(new Path(path), conf).toSeq.sortBy(_.getPath.toString).map { file =>
      ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
        ParquetMetadataConverter.NO_FILTER).getBlocks.asScala.map(_.getRowCount).sum
    }
  }

  /** The first listed data file under `root`, stopping at the first hit
    * instead of listing the whole table. */
  private def firstDataFile(root: Path, conf: Configuration): Option[FileStatus] =
    dataFiles(root, conf).nextOption()

  /** The data files under `root`, listed lazily. */
  private def dataFiles(root: Path, conf: Configuration): Iterator[FileStatus] = {
    val fs = root.getFileSystem(conf)
    val rootDepth = fs.makeQualified(root).depth()
    val it = try fs.listFiles(root, true) catch {
      case _: FileNotFoundException => return Iterator.empty
    }
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).filter { f =>
      // every path component below the root, the file's name included
      var p = f.getPath
      var visible = true
      while (visible && p.depth() > rootDepth) { visible = !hidden(p.getName); p = p.getParent }
      visible
    }
  }
}
