package org.apache.spark.sql.graftshim

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Reads Parquet files on the calling thread with Spark's own Parquet
  * reader and hands the kept rows back as a local relation — a driver
  * read that runs no Spark job. `ParquetStorage.fetch` uses it for
  * answers of a few batch objects, where scheduling a job costs far more
  * than decoding the rows.
  *
  * The reader is the one a file scan uses
  * (`ParquetFileFormat.buildReaderWithPartitionValues`), built once per
  * instance from the session's conf at that time, so decoding is the
  * scan's: INT96 timestamps, rebase modes, and columns missing from a
  * file read as null (`fileSchema` is read as nullable, as
  * `DataFrameReader` makes it). The builder, `asNullable` and
  * `LocalRelation` / `Dataset.ofRows` are Spark-internal API, which is
  * why this class lives under `org.apache.spark.sql`.
  */
final class LocalParquet(spark: SparkSession, fileSchema: StructType) {

  private val schema = fileSchema.asNullable
  private val session = spark.asInstanceOf[classic.SparkSession]

  private val readFile: PartitionedFile => Iterator[InternalRow] =
    new ParquetFileFormat().buildReaderWithPartitionValues(session, schema,
      new StructType(), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), {
        // the Parquet codec allocates a stream buffer of this size per
        // page it decompresses; Spark's 64 KiB would be most of what a
        // fetch of a few small objects allocates
        val conf = session.sessionState.newHadoopConf()
        conf.setInt("io.file.buffer.size", 4 << 10)
        conf
      })

  // projections reuse their output row: one per thread
  private val copier = ThreadLocal.withInitial(() => UnsafeProjection.create(schema))

  /** The rows of a directory Spark wrote, data file by data file in
    * name order, skipping the names Spark's file index skips (`_SUCCESS`,
    * `.crc`). A row is valid only until the next call to `next()`;
    * [[keep]] copies it. A missing directory or file throws
    * `NoSuchFileException` or `FileNotFoundException`. Close the cursor
    * on every exit: outside a task, Spark's reader frees its file only
    * when exhausted or closed.
    */
  def open(dir: java.nio.file.Path): Iterator[InternalRow] with AutoCloseable =
    new Iterator[InternalRow] with AutoCloseable {
      private val files = {
        val s = java.nio.file.Files.list(dir)
        try s.iterator().asScala.filterNot { p =>
          val n = p.getFileName.toString
          n.startsWith("_") || n.startsWith(".")
        }.toSeq.sortBy(_.getFileName.toString)
        finally s.close()
      }.iterator
      private var rows: Iterator[InternalRow] = Iterator.empty

      def hasNext: Boolean = {
        while (!rows.hasNext && files.hasNext) {
          close()
          val file = files.next()
          val size = java.nio.file.Files.size(file)
          rows = readFile(PartitionedFile(InternalRow.empty,
            SparkPath.fromPath(new HPath(file.toUri)), 0, size, fileSize = size))
        }
        rows.hasNext
      }
      def next(): InternalRow = if (hasNext) rows.next() else Iterator.empty.next()
      // the vectorized reader is Closeable; the row-based one (vectorized
      // reading switched off) is not, and closes itself at its end
      def close(): Unit = {
        val open = rows
        rows = Iterator.empty
        open match {
          case c: java.io.Closeable => c.close()
          case _ => while (open.hasNext) open.next()
        }
      }
    }

  /** A retained copy of a row handed out by [[open]]. */
  def keep(row: InternalRow): InternalRow = copier.get()(row).copy()

  /** The kept rows as a DataFrame over a local relation: collecting it,
    * or a Project/Filter of it, is folded by the optimizer and runs no job,
    * and [[LocalParquet.rows]] reads it back with no query at all.
    */
  def frame(rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(session,
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}

object LocalParquet {

  /** The rows of `df`. Those of a DataFrame over a local relation, as
    * [[LocalParquet.frame]] makes, are handed back as they are, with no
    * planning, codegen or SQL execution; any other DataFrame is executed.
    */
  def rows(df: DataFrame): Seq[InternalRow] = df.queryExecution.logical match {
    case local: LocalRelation => local.data
    case _ => df.queryExecution.executedPlan.executeCollect().toSeq
  }
}
