package org.apache.spark.sql.graftbridge

import java.net.URI

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Minimal access shim for the `private[sql]` Spark internals graft
  * needs (the package-placement trick every Spark extension with a SQL
  * surface uses — Delta's `org.apache.spark.sql.delta` lineage):
  * wrapping a resolved Catalyst expression back into a public
  * [[Column]], turning a resolved source [[LogicalPlan]] back into a
  * [[DataFrame]], and reading parquet footers the way the parquet
  * reader's schema inference does. Nothing else from the internal
  * surface is exposed. */
object SqlInternals {

  /** `classic.ExpressionUtils.column` — a Column over a (possibly
    * unresolved) Catalyst expression, re-resolved by whatever plan it
    * lands in. */
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** `classic.Dataset.ofRows` — the DataFrame face of an analyzed
    * logical plan (the MERGE source, replayed into the operator's own
    * query). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(classic(spark), plan)

  /** The parquet footers of `files` (URI strings, as
    * `Dataset.inputFiles` returns them), read on the driver with no
    * Spark job: each file's row count (the sum over its row groups, in
    * `files` order) and the schema `spark.read.parquet` over exactly
    * these files infers — with `mergeSchema` every footer's schema
    * merged by name in the given order (the reader merges in path
    * order), otherwise the first file's; nullable either way, as the
    * reader makes it. Schemas convert through the session's parquet
    * settings (binary-as-string, INT96, NTZ inference, nanos-as-long)
    * and prefer the Spark schema a Spark writer stores in the footer.
    * A file whose footer does not parse — truncated, zero-length, not
    * parquet — throws. An empty `files` yields an empty schema. */
  def parquetFooters(spark: SparkSession, files: Seq[String],
      mergeSchema: Boolean): (Seq[Long], StructType) = {
    val state = classic(spark).sessionState
    val hadoopConf = state.newHadoopConf()
    val converter = new ParquetToSparkSchemaConverter(state.conf)
    val footers = files.zipWithIndex.map { case (f, i) =>
      val path = new Path(new URI(f))
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, hadoopConf))
      val meta = try reader.getFooter finally reader.close()
      val rows = meta.getBlocks.asScala.map(_.getRowCount).sum
      val schema =
        if (mergeSchema || i == 0)
          Some(ParquetFileFormat.readSchemaFromFooter(new Footer(path, meta), converter))
        else None
      (rows, schema)
    }
    val caseSensitive = state.conf.caseSensitiveAnalysis
    val schema = footers.flatMap(_._2)
      .reduceOption(_.merge(_, caseSensitive))
      .getOrElse(new StructType())
    (footers.map(_._1), schema.asNullable)
  }

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
}
