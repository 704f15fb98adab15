package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.storage.StorageLevel

/** Times graft's native `graft_*` SQL functions, each over its column
  * of the bench corpus (minhash and simhash over the 3-shingle sets of
  * the documents, as the dedup operators call them). Inputs are
  * repeated to 40k rows or more and cached. A kernel's cost is the
  * median noop-sink time of projecting it, minus the median time of
  * projecting its own input, over the row count, in nanoseconds. */
object Kernels {
  private val Reps = 3

  def time(spark: SparkSession, data: String): Map[String, Double] = {
    val sc = spark.sparkContext
    /** `df` repeated `times` times, cached, and its row count. */
    def cached(df: DataFrame, times: Int): (DataFrame, Long) = {
      val c = df.crossJoin(spark.range(times).withColumnRenamed("id", "rep"))
        .drop("rep").persist(StorageLevel.MEMORY_ONLY)
      (c, c.count())
    }
    val events = cached(spark.read.parquet(s"$data/events.parquet").selectExpr(
      "user_id", "unix_seconds(CAST(ts AS TIMESTAMP)) AS t", "array(event_id, user_id) AS s"), 1)
    val frames = cached(events._1.selectExpr("graft_pack_frame(user_id, t, s) AS frame"), 1)
    val docs = cached(spark.read.parquet(s"$data/documents.parquet").select("text"), 8)
    val vecs = cached(spark.read.parquet(s"$data/embeddings.parquet").select("embedding"), 20)
    val shingled = "graft_shingles(text)"
    val cases = Seq( // name, input, its input expression, the kernel
      ("pack_frame", events, "s", "graft_pack_frame(user_id, t, s)"),
      ("unpack_frame", frames, "frame", "graft_unpack_frame(frame)"),
      ("poly_hash", docs, "text", "graft_poly_hash(text)"),
      ("shingles", docs, "text", shingled),
      ("minhash", docs, shingled, s"graft_minhash($shingled)"),
      ("simhash", docs, shingled, s"graft_simhash($shingled)"),
      ("dot", vecs, "embedding", "graft_dot(embedding, embedding)"))
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
    try cases.map { case (name, (df, rows), input, kernel) =>
      val tag = s"perfbench-kernel-$name"
      sc.addJobTag(tag)
      try {
        def once(e: String): Double = {
          val t0 = System.nanoTime()
          df.select(expr(e)).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0).toDouble
        }
        val (base, full) = (1 to Reps).map(_ => (once(input), once(kernel))).unzip
        s"${name}_ns_per_row" -> (median(full) - median(base)) / rows
      } finally sc.removeJobTag(tag)
    }.toMap
    finally Seq(events, frames, docs, vecs).foreach(_._1.unpersist())
  }
}
