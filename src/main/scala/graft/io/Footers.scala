package graft.io

import scala.util.Try
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{DataType, StructType}

/** Parquet footers read on the driver: a file listing and one footer read
  * per file, with no Spark job. */
object Footers {

  /** The data files under `path` (recursively; `path` itself when it is a
    * file), each relative to `path`, with its footer. Lazy: a footer is
    * read when the iterator reaches its file. Names Spark's reader skips
    * (`_SUCCESS`, `.crc` files) are skipped. Directories are listed with
    * `listStatus`: `listFiles` builds a `LocatedFileStatus` per file, which
    * on the local filesystem without Hadoop's native library forks an
    * `ls -ld` per file to read its permissions. */
  def apply(spark: SparkSession, path: String): Iterator[(String, ParquetMetadata)] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val base = fs.makeQualified(root).toUri
    def files(st: FileStatus): Iterator[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).iterator.flatMap(files)
      else Iterator(st)
    files(fs.getFileStatus(root))
      .filterNot { st =>
        val n = st.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
      .map { st =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try base.relativize(st.getPath.toUri).getPath -> r.getFooter
        finally r.close()
      }
  }

  /** The schema `spark.read.parquet(path)` infers, without its inference
    * job: the first data file's footer, read by the rule Spark's inference
    * uses — the schema Spark wrote into the footer when there is one, else
    * the converted parquet schema. */
  def schema(spark: SparkSession, path: String): StructType = {
    val files = apply(spark, path)
    require(files.hasNext, s"no parquet data file under $path")
    val meta = files.next()._2.getFileMetaData
    Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .flatMap(s => Try(DataType.fromJson(s).asInstanceOf[StructType]).toOption)
      .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf)
        .convert(meta.getSchema))
  }
}
