package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-probe corpus (test scope): a copies×-sf0.1 documents and
  * embeddings set, the decades above the shipped testdata. The
  * relational tables of the same decade come from `tools/make_sfprobe.py`.
  *
  * The corpus replicates sf0.1 documents/embeddings with per-copy id
  * offsets; each copy's TOKENS are suffixed `_<copy>` so copies are
  * textually independent (no cross-copy near-dups — the corpus grows
  * horizontally, the per-copy duplicate structure is preserved, and
  * dedup-family growth measures the PLAN, not a synthetic dup
  * explosion).
  *
  *   sbt "Test/runMain graft.ScaleProbe [dstDir] [copies]"
  *   sbt "Test/runMain graft.Profile q_a,q_b /root/testdata/sf0.01 \
  *     /root/testdata/sf0.1 /tmp/graft-sfprobe"
  *
  * dstDir defaults to /tmp/graft-sfprobe and copies to 10.
  */
object ScaleProbe {

  private def synthesize(spark: SparkSession, src: String,
                         dst: String, copies: Int): Unit = {
    val root = java.nio.file.Paths.get(dst)
    if (java.nio.file.Files.exists(root.resolve("documents.parquet")) &&
        java.nio.file.Files.exists(root.resolve("embeddings.parquet"))) return
    java.nio.file.Files.createDirectories(root)
    val k = explode(sequence(lit(0), lit(copies - 1))).as("copy")
    spark.read.parquet(s"$src/documents.parquet")
      .select(col("*"), k)
      .select(
        (col("doc_id") + col("copy") * 10000000L).as("doc_id"),
        when(col("copy") === 0, col("text")).otherwise(
          array_join(transform(split(col("text"), " "),
            w => concat(w, lit("_"), col("copy"))), " ")).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    // copies must be DIRECTION-independent, not perturbed near-copies:
    // a tiny additive jitter keeps all 10 copies of a vector nearly
    // parallel, so every LSH/cluster cell holds 10 genuine near-dups
    // and pair-counting ops explode quadratically from the DATA, hiding
    // the plan's real scaling. A per-copy circular shift of the
    // components keeps norms and value distributions identical while
    // making cross-copy cosines behave like independent random vectors.
    spark.read.parquet(s"$src/embeddings.parquet")
      .select(col("*"), k)
      .select(
        (col("vec_id") + col("copy") * 10000000L).as("vec_id"),
        when(col("copy") === 0, col("embedding")).otherwise(
          transform(col("embedding"), (_, i) =>
            element_at(col("embedding"),
              ((i + col("copy") * 9) % size(col("embedding"))) + 1)))
          .as("embedding"),
        col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val dst = args.headOption.getOrElse("/tmp/graft-sfprobe")
    val copies = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val spark = Sessions.local(Runtime.getRuntime.availableProcessors,
      "graft-scaleprobe")
    synthesize(spark, "/root/testdata/sf0.1", dst, copies)
    spark.stop()
  }
}
