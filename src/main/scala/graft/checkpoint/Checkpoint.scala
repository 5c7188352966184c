package graft.checkpoint

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-stage checkpoint/resume with lineage + metrics (north rule;
  * SURVEY §4.2). Iceberg is the production table format; this sandbox
  * has no Iceberg jar, so `Catalog` is a thin Parquet-backed
  * implementation with the same surface — swapping `format("parquet")`
  * for `format("iceberg")` is the only change (SURVEY §1.3 note).
  *
  * Resume semantics: a stage re-runs only if its lineage hash (the
  * SHA-256 of a deterministic fingerprint of the stage's inputs +
  * config) differs from the manifest entry written by the previous
  * successful run. Otherwise its materialized output is read back —
  * "skip stage if its output table exists and lineage matches". A
  * stage's manifest is deleted before its table is overwritten and
  * rewritten only after the write succeeds, so a write that fails
  * partway leaves no manifest to resume from.
  */
class Catalog(val root: String, spark: SparkSession) {

  private def tableDir(name: String) = s"$root/$name"
  private def manifestPath(name: String) = Paths.get(s"$root/$name.lineage")

  def write(name: String, df: DataFrame, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).save(tableDir(name))
  }

  def read(name: String): DataFrame = spark.read.parquet(tableDir(name))

  def exists(name: String): Boolean = Files.exists(Paths.get(tableDir(name)))

  /** Run-or-resume a stage. `lineage` must change whenever the stage's
    * inputs or config change (callers compose it from upstream lineage
    * hashes + config strings). `partitionBy` controls the table's
    * physical layout (e.g. the north rule's (days(warc_ts), lang)
    * Iceberg partitioning for corpus outputs).
    */
  def stage(name: String, lineage: String, partitionBy: Seq[String] = Nil)(
      compute: => DataFrame): DataFrame = {
    val lp = manifestPath(name)
    val lh = MessageDigest.getInstance("SHA-256")
      .digest(lineage.getBytes(StandardCharsets.UTF_8)).map(b => f"$b%02x").mkString
    if (exists(name) && Files.exists(lp) && new String(Files.readAllBytes(lp)).trim == lh) {
      read(name) // resume: lineage matches, skip recompute
    } else {
      Files.deleteIfExists(lp)
      write(name, compute, partitionBy)
      Files.createDirectories(lp.getParent)
      Files.write(lp, lh.getBytes,
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
        StandardOpenOption.WRITE)
      read(name)
    }
  }

  /** Append a per-stage metrics row (S5/S6: the metrics sink). */
  def recordMetrics(stageName: String, metrics: Map[String, Long]): Unit = {
    import spark.implicits._
    val df = metrics.toSeq.toDF("metric", "value")
      .withColumn("stage", lit(stageName))
    df.write.mode("append").parquet(tableDir("_metrics"))
  }

  def metrics(): DataFrame = read("_metrics")

  /** Per-partition row counts of a stage output — the lineage/metrics
    * table's partition-level entries (north rule "per-partition
    * lineage").
    */
  def partitionCounts(df: DataFrame): DataFrame =
    df.withColumn("__part", spark_partition_id())
      .groupBy(col("__part")).count()
}
