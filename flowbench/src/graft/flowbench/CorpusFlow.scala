package graft.flowbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Sharding
import graft.pipeline.{Crawl, Curation}
import graft.sources.Warc

/** `corpus_run`: seeded `.warc.gz` files through the crawl front door
  * into a pages table, then curation and sharding into a shard table.
  */
object CorpusFlow {
  val Spec = Gen.CorpusSpec(pages = 1200, files = 8, domains = 300, blockedDomains = 12,
    dupShare = 0.08, nearDupShare = 0.08, blockedShare = 0.05, boilerplateShare = 0.05,
    germanShare = 0.05, shortShare = 0.05)
  val Shards = 8

  def runs(seconds: Int): Int = math.max(3, seconds / 4)

  def writeCorpus(c: Gen.Corpus, dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    c.files.zipWithIndex.foreach { case (b, i) => Files.write(Paths.get(dir, f"crawl-$i%03d.warc.gz"), b) }
  }

  /** Crawl gates and extraction: WARC files to the pages table. */
  def ingest(spark: SparkSession, warcDir: String, blocked: Seq[String], pagesDir: String): Unit = {
    import spark.implicits._
    Crawl.curate(Warc.read(spark, warcDir), blocked.toDF("domain"))
      .write.mode("overwrite").parquet(pagesDir)
  }

  /** The pages that carry text, keyed by a 64-bit hash of their URL. */
  def docs(spark: SparkSession, pagesDir: String): DataFrame =
    spark.read.parquet(pagesDir).filter(col("n_tokens") > 0)
      .select(xxhash64(col("url")).as("doc_id"), col("text"))

  /** Curation and sharding: the pages table to the shard table. */
  def curate(spark: SparkSession, pagesDir: String, shardsDir: String): Unit =
    Sharding.assignShards(Curation.curate(docs(spark, pagesDir)), Shards)
      .write.mode("overwrite").partitionBy("shard").parquet(shardsDir)

  def run(spark: SparkSession, m: Meter, c: Flow.Conf): Flow.Outcome = {
    import c.{seed, seconds, work}
    var corpus: Gen.Corpus = null
    val warcDir = s"$work/warc"
    val writes = (0 until c.setupReps).map { _ =>
      Flow.timed {
        corpus = new Gen.CorpusGen(seed, Spec).generate()
        writeCorpus(corpus, warcDir)
      }
    }
    // warm-up: one untimed run over the same corpus
    val warm = Flow.timed {
      ingest(spark, warcDir, corpus.blocked, s"$work/warm-pages")
      curate(spark, s"$work/warm-pages", s"$work/warm-shards")
    }
    val setupS = Meter.quantile(writes, 0.5) + warm
    Flow.log(f"setup: writes ${writes.map(t => f"$t%.2f").mkString(" ")} s, warm-up $warm%.2f s")

    var attempted = 0
    var failed = 0
    val n = m.opCount(runs(seconds))
    (0 until n).foreach { i =>
      val (pages, shards) = (s"$work/pages-$i", s"$work/shards-$i")
      val on = m.tracedOp(i)
      attempted += 1
      m.settle()
      try m.withTracing(on) {
        val a = m.phase("corpus.ingest")(Flow.timed(ingest(spark, warcDir, corpus.blocked, pages)))
        val b = m.phase("corpus.curate")(Flow.timed(curate(spark, pages, shards)))
        m.add("corpus.ingest_s", a)
        m.add("corpus.curate_s", b)
        m.addOp(on, a + b)
      } catch { case e: Exception => failed += 1; Flow.log(s"corpus run $i failed: $e") }
    }

    m.settle()
    // checks on the last run's output, against an untimed recompute
    val (pages, shards) = (s"$work/pages-${n - 1}", s"$work/shards-${n - 1}")
    val curated = Curation.curate(docs(spark, pages)).select("doc_id").collect().map(_.getLong(0)).toSeq
    val sharded = spark.read.parquet(shards)
    val checks = Checks.shards(curated,
        sharded.select("doc_id", "shard").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq, Shards) ++
      Checks.corpusClean(
        spark.read.parquet(pages).select("domain").distinct().collect().map(_.getString(0)).toSeq,
        corpus.blocked.toSet,
        sharded.select(md5(col("text"))).collect().map(_.getString(0)).toSeq)

    val layer = if (!m.traced) Nil else {
      val pagesN = spark.read.parquet(pages).filter(col("n_tokens") > 0).count().toDouble
      Seq(
        "corpus.pages_kept_frac" -> pagesN / corpus.responses,
        "corpus.docs_out_frac" -> Meter.ratio(curated.size, pagesN))
    }
    Flow.Outcome(setupS, attempted, failed, checks, layer)
  }
}
