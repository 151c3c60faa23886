package graft

import org.apache.spark.sql.functions._

/** External-reader interop probe — the testable half of the reference's
  * DuckDB-over-lake demo (`duckdb-init.sql:1-31` points DuckDB at the
  * broker's lake output): write a PARTITIONED TxLog lake table from the
  * sf0.01 documents, print the expected per-partition aggregate as
  * JSON, and let `tools/duckdb_interop.py` read the same directory from
  * DuckDB (hive_partitioning, `_graft_log` ignored) and compare. Run:
  *
  *   sbt "Test/runMain graft.LakeInteropProbe"
  *   python3 tools/duckdb_interop.py
  */
object LakeInteropProbe {
  val TableDir = "/tmp/graft-lake-interop/docs"

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(8, "graft-lake-interop")
    val root = java.nio.file.Paths.get(TableDir)
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
      finally s.close()
    }
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    // two appends so the manifest holds several files per partition
    graft.lake.TxLog.append(docs.filter(col("doc_id") % 2 === 0),
      TableDir, partitionCols = Seq("lang"))
    graft.lake.TxLog.append(docs.filter(col("doc_id") % 2 === 1),
      TableDir, partitionCols = Seq("lang"))
    val expect = graft.lake.TxLog.read(spark, TableDir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(length(col("text"))).cast("long").as("len"),
        min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .orderBy(col("lang"))
      .collect()
      .map(r => s"""{"lang":"${r.getString(0)}","n":${r.getLong(1)},""" +
        s""""len":${r.getLong(2)},"lo":${r.getLong(3)},"hi":${r.getLong(4)}}""")
      .mkString("[", ",", "]")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/tmp/graft-lake-interop/expected.json"), expect)
    println(s"INTEROP_EXPECTED $expect")
    spark.stop()
  }
}
