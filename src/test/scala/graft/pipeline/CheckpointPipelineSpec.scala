package graft.pipeline

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.checkpoint.Catalog
import graft.corpus.Corpus

/** Checkpoint/resume semantics of the staged pipeline (north rule:
  * "resumes mid-run without recomputation").
  */
class CheckpointPipelineSpec extends SparkSpec {

  test("checkpointed run equals direct run; re-run resumes without rewriting stage tables") {
    val docs = Corpus.docs(spark, 400).toDF()
    val dir = Files.createTempDirectory("graft-ckpt").toString
    val cat = new Catalog(dir, spark)

    val direct = DedupPipeline.run(docs)
    val staged = DedupPipeline.run(docs, catalog = Some(cat), inputLineage = "corpus400")
    // identical cluster assignments
    assert(direct.clusters.exceptAll(staged.clusters).count() == 0)
    assert(staged.clusters.exceptAll(direct.clusters).count() == 0)

    def mtimes(name: String): Map[String, Long] = {
      val d = Paths.get(s"$dir/$name")
      import scala.jdk.CollectionConverters._
      Files.list(d).iterator().asScala
        .map(p => p.getFileName.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    }
    val stagedCount = staged.clusters.count()
    val before = (mtimes("edges"), mtimes("clusters"))
    Thread.sleep(1100)
    val resumed = DedupPipeline.run(docs, catalog = Some(cat), inputLineage = "corpus400")
    assert(resumed.clusters.count() == stagedCount)
    assert((mtimes("edges"), mtimes("clusters")) == before,
      "stage tables were rewritten on an unchanged-lineage resume")

    // changed config ⇒ lineage differs ⇒ stages recompute
    val changed = DedupPipeline.run(docs, DedupPipeline.Config(ignoreEmpty = true),
      Some(cat), "corpus400")
    val changedCount = changed.clusters.count()
    assert(mtimes("edges") != before._1)
    assert(changedCount <= stagedCount)
  }

  test("checkpointed substring+longrun stages persist their skip metrics; resume reads them back") {
    import spark.implicits._
    // 6 docs sharing a hot 25-token window (cap 3 → over-capacity)
    // PLUS a planted 99-char character run on two of them — exercises
    // both opt-in stages through the staged-edges table
    val shared = (0 until 25).map(i => s"s$i").mkString(" ")
    val run = (0 until 25).map(i => f"r$i%02d").mkString("x")
    val docs = (0 until 6).map { i =>
      val tail = (0 until 50).map(j => s"t$i-$j").mkString(" ")
      val text = if (i < 2) shared + " " + run + tail else shared + " " + tail
      (s"https://d.example/$i", text)
    }.toDF("url", "text")
      .withColumn("warc_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .withColumn("html", col("text").cast("binary"))
      .withColumn("lang", lit("en"))
    val dir = Files.createTempDirectory("graft-ckpt-sub").toString
    val cat = new Catalog(dir, spark)
    val cfg = DedupPipeline.Config(
      useSubstring = true,
      substring = DedupPipeline.SubstringConfig(w = 20, stride = 1, minShared = 1,
        maxDocsPerWindow = 3),
      useLongRun = true,
      longRun = DedupPipeline.LongRunConfig(minLen = 90))
    val staged = DedupPipeline.run(docs, cfg, Some(cat), "sub6")
    assert(staged.skippedBucketRows.get("substring").exists(_ >= 6L))
    assert(staged.skippedBucketRows.get("longrun").contains(0L))
    assert(staged.edges.filter(col("kind") === "longrun").count() >= 1)
    // resume: metrics come back from the staged table, not a recompute
    val resumed = DedupPipeline.run(docs, cfg, Some(cat), "sub6")
    assert(resumed.skippedBucketRows == staged.skippedBucketRows)
    // the plain run builds the same edge table: same skip counts, same
    // edges (skip rows are not edges on either path)
    val plain = DedupPipeline.run(docs, cfg)
    assert(plain.skippedBucketRows == staged.skippedBucketRows)
    assert(plain.edges.exceptAll(staged.edges).count() == 0)
    assert(staged.edges.exceptAll(plain.edges).count() == 0)
  }

  test("CLI --checkpoint resume is keyed on the input: synth:300 then synth:900 gives 855 rows") {
    val dir = Files.createTempDirectory("graft-ckpt-cli").toString
    def cli(input: String): Long = {
      val conf = graft.Main.parse(List("--input", input, "--checkpoint", dir))
      graft.Main.runPipeline(spark, conf, graft.Main.load(spark, input)).clusters.count()
    }
    assert(cli("synth:300") == 285L)
    assert(cli("synth:900") == 855L)
  }

  test("deduped corpus stage uses the (days(warc_ts), lang) layout (north rule)") {
    val docs = Corpus.docs(spark, 300).toDF()
    val dir = Files.createTempDirectory("graft-ckpt-layout").toString
    val cat = new Catalog(dir, spark)
    val r = DedupPipeline.run(docs, catalog = Some(cat), inputLineage = "corpus300")
    // physical directory layout: warc_day=YYYY-MM-DD/lang=xx
    import scala.jdk.CollectionConverters._
    val dayDirs = Files.list(Paths.get(s"$dir/deduped_docs")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("warc_day=")).toSeq
    assert(dayDirs.nonEmpty)
    val langDirs = Files.list(Paths.get(s"$dir/deduped_docs/${dayDirs.head}"))
      .iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("lang=")).toSeq
    assert(langDirs.nonEmpty)
    // one row per cluster canonical, pruned read works
    val deduped = r.dedupedDocs.get
    assert(deduped.count() ==
      r.clusters.select(col("cluster_id")).distinct().count())
    val oneLang = langDirs.head.stripPrefix("lang=")
    assert(cat.read("deduped_docs").filter(col("lang") === oneLang).count() > 0)
  }
}
