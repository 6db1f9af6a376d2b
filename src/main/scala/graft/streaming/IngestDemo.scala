package graft.streaming

import java.nio.file.{Files, Paths}

/** CLI demo of the L1 ingest pipeline, mirroring the reference's main()
  * flow (src/main.py:246-277): load versioned config → collect →
  * partitioned landing. Generates a tweet-shaped NDJSON page (the
  * reference's landed format, src/main.py:151-153), drains it with
  * Trigger.AvailableNow, prints the landed partition tree. Run:
  * `tools/run.sh graft.streaming.IngestDemo [workdir]`. */
object IngestDemo {

  private val topicYaml =
    """---
      |version: 1.0
      |---
      |topic: "NBA"
      |type: "League"
      |aliases:
      |  - "National Basketball Association"
      |""".stripMargin

  private val platformsYaml =
    """---
      |version: 1.0
      |---
      |platforms:
      |  - "Twitter"
      |""".stripMargin

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse(Files.createTempDirectory("graft_ingest").toString)
    // config-as-dimension, versioned + fail-fast (≙ src/main.py:49-61,255-260)
    val topic = graft.sources.TopicConfig.parseTopic(topicYaml)
    val platforms = graft.sources.TopicConfig.parsePlatforms(platformsYaml)
    println(s"CONFIG platform=${platforms.platforms.head} topic=${topic.topic} " +
      s"type=${topic.`type`} aliases=${topic.aliases.mkString("|")}")
    val spark = graft.Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(s"$base/src").mkdirs()
    val lines = (0 until 10).map { i =>
      val day = 6 + i % 2
      s"""{"id":"$i","text":"tweet $i #NBA","created_at":"2021-01-0${day}T18:40:${10 + i}.000Z","public_metrics":{"retweet_count":$i,"reply_count":1,"like_count":${i * 2},"quote_count":0},"context_annotations":[],"entities":{"hashtags":[{"start":8,"end":12,"tag":"NBA"}],"mentions":[],"urls":[],"annotations":[]}}"""
    }
    Files.write(Paths.get(s"$base/src/page-00.json"), lines.mkString("\n").getBytes("UTF-8"))
    Ingest.runAvailableNow(spark, s"$base/src", s"$base/out", s"$base/ckpt",
      platform = platforms.platforms.head, league = topic.topic)
    println("LANDED_TREE:")
    def walk(f: java.io.File, pad: String): Unit =
      f.listFiles.filterNot(_.getName.startsWith("_")).sortBy(_.getName).foreach { c =>
        println(pad + c.getName); if (c.isDirectory) walk(c, pad + "  ")
      }
    walk(new java.io.File(s"$base/out"), "  ")
    val landed = spark.read.parquet(s"$base/out")
    landed.show(5, truncate = false)
    println("LANDED_COUNT=" + landed.count())
    // manifest-committed sink variant (§2.I7): same source, exactly-once
    // visibility via per-batch manifests
    val mq = spark.readStream.schema(graft.model.TweetSchema.schema).json(s"$base/src")
      .writeStream
      .foreachBatch(ManifestSink.write(s"$base/manifested") _)
      .option("checkpointLocation", s"$base/mckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    mq.awaitTermination()
    println("MANIFESTED_COUNT=" + ManifestSink.read(spark, s"$base/manifested").count())
    // re-drain with same checkpoint: already-processed files are skipped
    Ingest.runAvailableNow(spark, s"$base/src", s"$base/out", s"$base/ckpt")
    println("AFTER_RERUN_COUNT=" + spark.read.parquet(s"$base/out").count())
    // ---- the composed daily run (reference src/main.py:246-277 as one
    // chain): cursor-paged "API" → NDJSON landing (server-side query
    // term via query.minId ≙ since_id) → quarantine split → curated
    // serving table a SQL user queries by name. Same pieces the
    // IngestSuite e2e asserts; here as the runnable CLI flagship.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.sources.paged.PagedApi.appendRecords(s"$base/api",
      (0 until 40).map { i =>
        val body =
          if (i % 10 == 9) s"""{"id":"$i","text": BROKEN"""
          else s"""{"id":"$i","text":"tweet $i #NBA","created_at":"2021-01-0${6 + i % 2}T18:40:${10 + i % 40}.000Z","public_metrics":{"retweet_count":$i,"reply_count":1,"like_count":${i * 2},"quote_count":0},"context_annotations":[],"entities":{"hashtags":[{"start":8,"end":12,"tag":"NBA"}],"mentions":[],"urls":[],"annotations":[]}}"""
        (i.toLong, "2021-01-06T00:00:00Z", body)
      })
    val crawl = spark.readStream.format("graft-pages")
      .option("path", s"$base/api").option("pageSize", "10")
      .option("query.minId", "10").option("maxRecords", "100000").load()
      .select($"text".as("value"))
      .writeStream.format("text").option("path", s"$base/raw")
      .option("checkpointLocation", s"$base/ckpt_crawl")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    crawl.awaitTermination()
    val (good, bad) = Ingest.readQuarantined(spark, s"$base/raw")
    println(s"CRAWLED good=${good.count()} quarantined=${bad.count()}")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_serve")
    spark.sql("DROP TABLE IF EXISTS graft_serve.tweets_demo")
    Ingest.transform(good, "Twitter", "NBA").limit(0).write
      .partitionBy("platform", "league", "year", "month", "day")
      .saveAsTable("graft_serve.tweets_demo")
    val src = spark.readStream.schema(graft.model.TweetSchema.schema).json(s"$base/raw")
    Ingest.streamToServingTable(spark, Ingest.transform(src, "Twitter", "NBA"),
      "graft_serve.tweets_demo", s"$base/ckpt_serve")
    println("SERVING_COUNT=" + spark.newSession()
      .sql("SELECT COUNT(*) FROM graft_serve.tweets_demo").collect()(0).getLong(0))
    spark.stop()
  }
}
