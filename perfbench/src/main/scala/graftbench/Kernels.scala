package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Throughput of the public `graft_*` SQL functions on the run's own
  * corpus inputs (traced run only): each is a projection folded into one
  * sum over cached input, so the timing is the expression's evaluation
  * and not the parquet read. Inputs are repeated up to a fixed row count
  * so every workload times the same amount of work. */
object Kernels {
  val Rows = 40000L
  private val Reps = 3

  def measure(spark: SparkSession, data: String): Map[String, Double] = {
    val docs = spark.read.parquet(s"$data/documents.parquet")
    val embs = spark.read.parquet(s"$data/embeddings.parquet")
    val toks = fill(spark, docs.selectExpr(s"${graft.operators.TextAnalysis.toksExpr} AS toks"))
    val hashes = fill(spark, toks.selectExpr("transform(graft_shingle3(toks), s -> xxhash64(s)) AS h"))
    val vecs = fill(spark, embs.selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS v"))
    val bins = fill(spark, docs.selectExpr("CAST(text AS BINARY) AS b"))
    val binMb = bins.selectExpr("sum(length(b))").head().getLong(0) / 1048576.0
    val out = Map(
      "functions.shingle3_rows_per_s" -> Rows / seconds(toks, "sum(size(graft_shingle3(toks)))"),
      "functions.simhash_rows_per_s" -> Rows / seconds(hashes, "max(graft_simhash(h))"),
      "functions.dot_rows_per_s" -> Rows / seconds(vecs, "sum(graft_dot(v, v))"),
      "functions.snappy_mb_per_s" -> binMb / seconds(bins, "sum(length(graft_snappy(b)))"))
    Seq(toks, hashes, vecs, bins).foreach(_.unpersist(blocking = true))
    out
  }

  /** `df` repeated and cut to exactly `Rows` rows, cached. */
  private def fill(spark: SparkSession, df: DataFrame): DataFrame = {
    val n = df.count()
    val reps = (Rows + n - 1) / n
    val out = df.crossJoin(spark.range(reps).withColumnRenamed("id", "rep")).drop("rep")
      .limit(Rows.toInt).cache()
    out.count()
    out
  }

  /** Median wall seconds of `Reps` evaluations of one aggregate. */
  private def seconds(df: DataFrame, agg: String): Double = {
    val ts = (0 to Reps).map { _ =>
      val t0 = System.nanoTime()
      df.selectExpr(agg).collect()
      (System.nanoTime() - t0) / 1e9
    }.tail.sorted // the first evaluation compiles the expression
    ts(ts.size / 2)
  }
}
