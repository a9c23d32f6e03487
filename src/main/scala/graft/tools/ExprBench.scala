package graft.tools

import graft.core.Ckpt
import org.apache.spark.sql.functions._

/** Round-14 measurement tool: serial-CPU microbench of the text
  * primitives the corpus family spends its single-partition stages in
  * (tokens, shingles, quality battery, md5-60, cosine). Measurement
  * only. Usage: runMain graft.tools.ExprBench [sfDir]
  */
object ExprBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.SessionFactory.build("local[1]", Some(1))
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Ckpt.local(spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text"))
    val emb = Ckpt.local(spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))
    println(s"docs=${docs.count()} emb=${emb.count()}")
    def t(label: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      df.write.format("noop").mode("overwrite").save() // warm
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"EB $label%-34s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
    }
    import graft.scale.{TextStats, Dedup}
    t("baseline (id only)")(docs.select("doc_id"))
    t("length(text)")(docs.select(length(col("text"))))
    t("tokens = split+filter")(docs.select(TextStats.tokens(col("text"))))
    t("split only")(docs.select(split(lower(col("text")), "[^a-z]+")))
    t("tokenCountWs")(docs.select(TextStats.tokenCountWs(col("text"))))
    t("qualityScore")(docs.select(TextStats.qualityScore(col("text"))))
    t("fingerprint sha2")(docs.select(Dedup.fingerprint(col("text"))))
    t("shingles(3) from tokens")(docs
      .select(TextStats.tokens(col("text")).as("tk"))
      .select(Dedup.shinglesFromTokens(col("tk"), 3)))
    t("hashed shingles(3)")(docs
      .select(TextStats.tokens(col("text")).as("tk"))
      .select(Dedup.hashedShinglesFromTokens(col("tk"), 3)))
    t("md5Hash60(text)")(docs.select(Dedup.md5Hash60(col("text"))))
    t("explode shingles")(docs
      .select(TextStats.tokens(col("text")).as("tk"))
      .select(Dedup.shinglesFromTokens(col("tk"), 3).as("sh"))
      .select(explode_outer(col("sh"))))
    t("cosine codegen vs first")(
      emb.crossJoin(broadcast(emb.limit(1).select(col("v").as("q"))))
        .select(graft.scale.Similarity.cosine(col("v"), col("q"))))
    t("cosine composed HOF")(
      emb.crossJoin(broadcast(emb.limit(1).select(col("v").as("q"))))
        .select(graft.scale.Similarity.cosineComposed(col("v"), col("q"))))
    t("quantizeInt8 HOF")(emb.select(
      graft.scale.Similarity.quantizeInt8(col("v"))))
    spark.stop()
  }
}
