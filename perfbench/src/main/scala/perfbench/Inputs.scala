package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.model.Doc

/** A re-crawled page: a `Doc` plus the prior url it was fetched from. */
final case class Recrawl(url: String, warc_ts: java.sql.Timestamp, html: Array[Byte],
    text: String, lang: String, prior_url: String)

/** Seeded inputs: every frame is a pure function of the seed, and the
  * engine sees only the generated rows.
  */
object Inputs {

  /** `Corpus.docs`, the planted Common-Crawl mix (unique, exact, alias,
    * empty, undecodable, near-dup, 5% hot boilerplate), spread over two
    * partitions per core and materialized.
    */
  def corpus(spark: SparkSession, n: Long, seed: Long): DataFrame =
    materialize(Corpus.docs(spark, n, seed).toDF())

  def materialize(df: DataFrame): DataFrame = {
    val m = df.repartition(2 * df.sparkSession.sparkContext.defaultParallelism).persist()
    m.count()
    m
  }

  /** A crawl batch against a prior corpus, with the truth it plants.
    * `recrawls`: (url, prior_url) — a prior page fetched again under a
    * new url, every third one with its last 5% of tokens rewritten.
    * `freshUnique`: (url) — planted-unique pages of a fresh crawl.
    */
  final case class Batch(docs: DataFrame, recrawls: DataFrame, freshUnique: DataFrame) {
    def release(): Unit = Seq(docs, recrawls, freshUnique).foreach(_.unpersist())
  }

  /** About half re-crawls of planted-unique prior pages (each its own
    * cluster in any correct clustering) and half pages of a fresh
    * `Corpus.docs` draw under a new url namespace.
    */
  def crawlBatch(spark: SparkSession, prior: DataFrame, priorN: Long, seed: Long,
      batchNo: Int, size: Int): Batch = {
    import spark.implicits._
    val salt = seed * 1000003L + batchNo
    val nRecrawl = size / 2
    val nFresh = size - nRecrawl
    val uniques = Corpus.truth(spark, priorN, seed).toDF()
      .filter(col("truth_kind") === "unique").select("url")
    val sources = prior.join(uniques, "url")
      .orderBy(xxhash64(col("url"), lit(salt)), col("url"))
      .limit(nRecrawl)
      .as[Doc]
    val recrawled = sources.map { d =>
      val h = scala.util.hashing.MurmurHash3.stringHash(s"$salt|${d.url}")
      val path = d.url.substring(d.url.indexOf(".example/") + ".example".length)
      val url = s"https://host${(h & 0x7fffffff) % 17}.example/r$batchNo$path"
      val ts = new java.sql.Timestamp(d.warc_ts.getTime + (batchNo + 1) * 86400000L)
      if ((h & 0x7fffffff) % 3 != 0) Recrawl(url, ts, d.html, d.text, d.lang, d.url)
      else {
        val toks = d.text.split(' ')
        val m = math.max(1, toks.length / 20)
        val tail = (0 until m).map(k =>
          "zq" + Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(s"$h|$k")))
        val text = (toks.dropRight(m) ++ tail).mkString(" ")
        val esc = text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        Recrawl(url, ts, s"<html><body><p>$esc</p></body></html>".getBytes("UTF-8"),
          text, d.lang, d.url)
      }
    }.toDF().persist()
    val recrawls = materialize(recrawled.select("url", "prior_url"))

    val freshSeed = scala.util.hashing.MurmurHash3.stringHash(s"fresh|$salt").toLong
    def rename(url: org.apache.spark.sql.Column) =
      regexp_replace(url, "\\.example/p/", s".example/c$batchNo/p/")
    val fresh = Corpus.docs(spark, nFresh, freshSeed).toDF()
      .withColumn("url", rename(col("url")))
    val freshUnique = materialize(Corpus.truth(spark, nFresh, freshSeed).toDF()
      .filter(col("truth_kind") === "unique")
      .select(rename(col("url")).as("url")))
    val docs = materialize(recrawled.drop("prior_url").unionByName(fresh))
    recrawled.unpersist()
    Batch(docs, recrawls, freshUnique)
  }
}
