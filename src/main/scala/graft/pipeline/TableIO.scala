package graft.pipeline

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Storage seam (SURVEY §2b P1/P11): the north star writes Iceberg tables;
  * this sandbox has no Iceberg runtime jars, so the default implementation
  * is parquet-with-identical-semantics behind the same interface. A real
  * deployment swaps in an Iceberg catalog implementation (writeTo /
  * createOrReplace) without touching pipeline code.
  */
trait TableIO extends Serializable {
  def write(df: DataFrame, name: String): Unit
  def append(df: DataFrame, name: String): Unit
  def read(spark: SparkSession, name: String): DataFrame
  def exists(spark: SparkSession, name: String): Boolean
}

/** Catalog-backed TableIO — the Iceberg wiring (P1/P11). Uses only
  * catalog-agnostic DataFrameWriterV2 / spark.table APIs, so pointing
  * `prefix` at an Iceberg catalog (spark.sql.catalog.<name> =
  * org.apache.iceberg.spark.SparkCatalog + warehouse config) is a session
  * config change, not a code change. This sandbox ships no Iceberg jars;
  * tests exercise the identical code path against the built-in session
  * catalog (whose V1 fallback lacks atomic REPLACE TABLE — handled below;
  * Iceberg itself supports createOrReplace natively).
  *
  * Table names: stage paths like "run-0/metrics" map to identifiers by
  * replacing '/' and '-' (not legal in unquoted identifiers). */
final class CatalogTableIO(prefix: String) extends TableIO {
  private def tbl(name: String): String =
    prefix + "." + name.replace('/', '_').replace('-', '_')

  override def write(df: DataFrame, name: String): Unit = {
    val t = tbl(name)
    try df.writeTo(t).using("parquet").createOrReplace()
    catch {
      case _: UnsupportedOperationException | _: org.apache.spark.sql.AnalysisException =>
        // non-atomic catalogs (the built-in session catalog) can't REPLACE
        // TABLE; the V1 writer handles overwrite + managed locations there
        df.write.format("parquet").mode(SaveMode.Overwrite).saveAsTable(t)
    }
  }

  override def append(df: DataFrame, name: String): Unit = {
    val t = tbl(name)
    if (exists(df.sparkSession, name)) {
      try df.writeTo(t).append()
      catch { // V1 session-catalog tables reject the V2 write path
        case _: org.apache.spark.sql.AnalysisException =>
          df.write.format("parquet").mode(SaveMode.Append).saveAsTable(t)
      }
    } else {
      try df.writeTo(t).using("parquet").create()
      catch {
        case _: UnsupportedOperationException | _: org.apache.spark.sql.AnalysisException =>
          df.write.format("parquet").mode(SaveMode.ErrorIfExists).saveAsTable(t)
      }
    }
  }

  override def read(spark: SparkSession, name: String): DataFrame =
    spark.table(tbl(name))

  override def exists(spark: SparkSession, name: String): Boolean =
    spark.catalog.tableExists(tbl(name))
}

final class ParquetTableIO(root: String) extends TableIO {
  private def path(name: String) = s"$root/$name"

  override def write(df: DataFrame, name: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path(name))

  override def append(df: DataFrame, name: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path(name))

  /** Reads without a schema-inference job (Spark's inference launches one
    * even for a single footer): the schema comes from one data file's
    * footer, read locally without a Spark job. */
  override def read(spark: SparkSession, name: String): DataFrame = {
    val reader = spark.read
    ParquetTableIO.footerSchema(spark, path(name)).fold(reader)(reader.schema).parquet(path(name))
  }

  override def exists(spark: SparkSession, name: String): Boolean = {
    val p = new Path(path(name), "_SUCCESS")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }
}

object ParquetTableIO {
  /** Footer key under which Spark stores the schema JSON of every parquet
    * file it writes; its own schema inference reads the same entry. */
  private val RowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The Spark schema recorded in the footer of one data file under `dir`;
    * None (so the caller falls back to inference) when the directory
    * cannot be listed, holds no data file, or the footer has no such
    * entry. */
  def footerSchema(spark: SparkSession, dir: String): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    Try(root.getFileSystem(conf).listStatus(root)).toOption
      .flatMap(_.iterator.map(_.getPath).find(_.getName.endsWith(".parquet")))
      .flatMap { file =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
        try Option(reader.getFileMetaData.getKeyValueMetaData.get(RowMetadataKey))
        finally reader.close()
      }
      .flatMap(json => Try(DataType.fromJson(json)).toOption)
      .collect { case s: StructType => s }
  }
}
