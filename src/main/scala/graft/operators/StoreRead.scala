package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Store-table reads that plan without a Spark job. `spark.read.parquet`
  * infers a table's schema with a one-task job per call; on a serve or
  * append path that job costs more than the metadata it reads. Here the
  * driver reads ONE visible footer — names starting with `.` or `_` are
  * skipped, as partition discovery skips them, so staging residue never
  * supplies the schema — and hands it to `spark.read.schema(...)`.
  * Partition columns (`epoch`, `tbucket`) are not in the footer and are
  * still inferred from the directory names, so the read's schema equals
  * `spark.read.parquet`'s. */
private[operators] object StoreRead {

  private def visible(p: Path): Boolean = {
    val n = p.getName
    !n.startsWith(".") && !n.startsWith("_")
  }

  /** The first visible data file under `p`, depth first in name order. */
  private def firstFile(fs: FileSystem, p: Path): Option[Path] =
    fs.listStatus(p).filter(s => visible(s.getPath)).sortBy(_.getPath.getName)
      .iterator.flatMap { s =>
        if (s.isDirectory) firstFile(fs, s.getPath)
        else if (s.getLen > 0) Some(s.getPath) else None
      }.nextOption()

  /** The data schema (no partition columns) of the table at `dir`, read
    * from one visible footer on the driver; None when the table has no
    * visible data file. */
  private def footerSchema(spark: SparkSession, dir: String): Option[StructType] = {
    val root = new Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) None
    else firstFile(fs, root).map { f =>
      val meta = ParquetFileReader.readFooter(conf, f, ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(f, meta),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  /** The table at `dir`, planned without a schema job; a table with no
    * visible data file takes `spark.read.parquet` (and its errors). */
  def table(spark: SparkSession, dir: String): DataFrame =
    footerSchema(spark, dir).fold(spark.read.parquet(dir))(
      spark.read.schema(_).parquet(dir))

  /** A ledger-committed store's table at `storeDir/name`, its epochs cut
    * to the COMMITTED ones (≤ the ledger max, [[EpochLedger]]): residue
    * of a crash before the ledger rename stays unserved until the replay
    * reconciles it. */
  def committed(spark: SparkSession, storeDir: String, name: String): DataFrame =
    table(spark, s"$storeDir/$name").filter(
      col("epoch") <= EpochLedger.committedMax(spark, s"$storeDir/${EpochLedger.Ledger}"))
}
