package graft.views

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graftbridge.StorageBridge
import org.apache.spark.sql.types.StructType

import java.nio.file.Path

/** Driver-side reads of the footers of a flat parquet directory the
  * engine wrote: one file open each, and no Spark job. Spark infers a
  * parquet schema with a job, even for one file; reading the schema
  * from a footer here and passing it to the reader skips that job. */
private[graft] object ParquetFooters {

  private def files(dir: Path): List[Path] =
    FsLists.children(dir).filter(_.getFileName.toString.endsWith(".parquet"))

  private def reader[A](f: Path, conf: Configuration)(use: ParquetFileReader => A): A = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toUri), conf))
    try use(r) finally r.close()
  }

  /** Exact row count of `dir`. */
  def rowCount(spark: SparkSession, dir: Path): Long = {
    val conf = spark.sessionState.newHadoopConf()
    files(dir).map(reader(_, conf)(_.getRecordCount)).sum
  }

  /** The schema `spark.read.parquet(dir)` infers, from one footer read as
    * Spark's inference reads it (every field nullable); None when `dir`
    * holds no parquet file. */
  def schema(spark: SparkSession, dir: Path): Option[StructType] =
    files(dir).headOption.map { f =>
      reader(f, spark.sessionState.newHadoopConf()) { r =>
        StorageBridge.asRead(ParquetFileFormat.readSchemaFromFooter(
          new Footer(new org.apache.hadoop.fs.Path(f.toUri), r.getFooter),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
      }
    }

  /** `dir` read with its footer schema; inferred only when it holds no
    * parquet file. */
  def read(spark: SparkSession, dir: Path): DataFrame =
    schema(spark, dir).fold(spark.read)(s => spark.read.schema(s)).parquet(dir.toString)
}
