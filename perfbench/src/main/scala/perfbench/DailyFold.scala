package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{Tables, U, ops, streaming}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The paper's daily batch: each simulated day lands one CDC parquet slice
  * into each of four shared inboxes (documents, embeddings, events, part
  * co-occurrence edges) plus tweet NDJSON, ingests the tweets, and runs
  * the eight incremental members' `drainCdc` drives on one shared
  * warehouse. A day's slice carries its seeded adds (`op=add`) and a
  * seeded takedown batch (`op=del`) over everything landed so far, as a
  * takedown feed arrives beside the crawl feed; each drain folds the adds
  * and then retracts. After every day a serving op reads each member's
  * report. */
final class DailyFold(c: Ctx) extends Workload {
  import c.{spark, tracer}
  import spark.implicits._
  private val p = c.plan.get("daily_fold")
  private val dir = c.dataDir
  private val nDays = p.get("days").asInt
  private val delMod = p.get("takedown_mod").asInt
  private val nb = 4 // the bucket count of the eight-member warehouse test
  private val root = c.work.resolve("daily")
  private val wh = root.resolve("wh").toString

  val members = Seq("curate", "dedup", "tfidf", "domains", "quality", "ann", "cluster", "tri")
  private val tag = java.lang.Long.toHexString(U.h64Local(s"${c.seed}:${System.nanoTime()}"))
  private def prefix(m: String, side: String = "") = s"pb${side}_${m}_${tag}_"
  private def inbox(kind: String) = root.resolve(s"inbox_$kind").toString
  private def ckpt(m: String) = root.resolve(s"ckpt_$m").toString
  private val tweetSrc = root.resolve("tweets_src")
  private val tweetOut = root.resolve("tweets_out").toString

  // ---- inputs: the four kinds, each with the id its day hashes on -----
  private def docs = Tables.documents(spark, dir)
  private def emb = Tables.embeddings(spark, dir)
  private def events = Tables.events(spark, dir).select($"event_id", $"user_id", $"value")
  private def edges = spark.read.parquet(root.resolve("edges.parquet").toString)
  private def kinds: Seq[(String, DataFrame, Column)] = Seq(
    ("docs", docs, $"doc_id".cast("string")),
    ("emb", emb, $"vec_id".cast("string")),
    ("events", events, $"event_id".cast("string")),
    ("edges", edges, concat($"u".cast("string"), lit("-"), $"v".cast("string"))))

  /** The generator's rules: an id's day is h64("<id>:<seed>") mod days;
    * takedown k removes landed ids with h64("<id>:<seed>:del") mod m == k. */
  private def dayOf(id: Column) = pmod(U.h64(concat(id, lit(s":${c.seed}"))), lit(nDays.toLong))
  private def delOf(id: Column) = pmod(U.h64(concat(id, lit(s":${c.seed}:del"))), lit(delMod.toLong))

  private val queue = mutable.Queue[Seq[String]]()
  private val landedDays = mutable.ArrayBuffer[Int]()
  /** Takedown batches landed: (k, the days whose rows it covered). */
  private val takedowns = mutable.ArrayBuffer[(Int, Set[Int])]()
  private var landedBytes = 0L

  def prepare(): Unit = {
    cleanup()
    Files.createDirectories(tweetSrc)
    Seq("docs", "emb", "events", "edges").foreach(k => Files.createDirectories(root.resolve(s"inbox_$k")))
    val le = Tables.lineitem(spark, dir).select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
    le.as("a").join(le.as("b"), $"a.ok" === $"b.ok" && $"a.pk" < $"b.pk")
      .select($"a.pk".as("u"), $"b.pk".as("v")).distinct()
      .coalesce(1).write.parquet(root.resolve("edges.parquet").toString)
    queue.clear()
    // a step is one day's ops: the day's fold, then a serving read
    p.get("schedule").elements().asScala.foreach { st => queue += st.elements().asScala.map(_.asText).toSeq }
  }

  override def hasNext: Boolean = queue.nonEmpty

  private def land(df: DataFrame, kind: String, name: String): Unit = {
    val tmp = root.resolve(s"tmp_${kind}_$name").toString
    df.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles
      .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
    val dst = java.nio.file.Paths.get(inbox(kind), s"$name.parquet")
    Files.move(part.toPath, dst)
    c.delete(java.nio.file.Paths.get(tmp))
    landedBytes += Files.size(dst)
  }

  private def drain(m: String): Int = {
    val (inb, pre, ck) = (m match {
      case "curate" | "dedup" | "tfidf" | "domains" => inbox("docs")
      case "quality" => inbox("events")
      case "ann" | "cluster" => inbox("emb")
      case "tri" => inbox("edges")
    }, prefix(m), ckpt(m))
    m match {
      case "curate" => streaming.CurateIncrStream.drainCdc(spark, inb, pre, wh, ck, nb)
      case "dedup" => streaming.DedupIncrStream.drainCdc(spark, inb, pre, wh, ck, nb)
      case "tfidf" => streaming.TfidfIncrStream.drainCdc(spark, inb, pre, wh, ck, nb)
      case "domains" => streaming.DomainsIncrStream.drainCdc(spark, inb, pre, wh, ck, nb)
      case "quality" => streaming.QualityIncrStream.drainCdc(spark, inb, dir, pre, wh, ck, nb)
      case "ann" => streaming.AnnIncrStream.drainCdc(spark, inb, pre, wh, ck, nb)
      case "cluster" => streaming.ClusterIncrStream.drainCdc(spark, inb, pre, wh, ck, nb)
      case "tri" => streaming.TriIncrStream.drainCdc(spark, inb, pre, wh, ck, nb)
    }
  }

  /** A member's serving output, read as the eight-member warehouse test reads it. */
  private def report(m: String, side: String = "", w: String = wh): DataFrame = {
    val pre = prefix(m, side)
    m match {
      case "curate" => ops.CurateIncr.reportRetractable(spark, pre, w)
      case "dedup" => ops.DedupIncr.pairs(spark, pre, w)
      case "tfidf" => ops.TfidfIncr.report(spark, pre, w)
      case "domains" => ops.DomainsIncr.report(spark, pre, w)
      case "quality" => ops.QualityIncr.report(spark, pre, w)
      case "ann" => ops.AnnIncr.topK(spark, pre, w, ops.AnnIncr.storeQueries(spark, pre, w), 3)
      case "cluster" => ops.ClusterIncr.report(spark, pre, w)
      case "tri" => ops.TriIncr.report(spark, pre, w)
    }
  }

  def step(): Seq[() => Span] = queue.dequeue().map(o => () => runOp(o))

  /** The serving read of the latest serve op, per member. */
  private val served = mutable.Map[String, Seq[String]]()

  private def runOp(o: String): Span = o.split(':') match {
    case Array("day", d) =>
      c.op(s"day:$d") {
        val k = d.toInt % delMod
        landedDays += d.toInt
        tracer.span("land", s"day:$d") {
          kinds.foreach { case (kind, df, id) =>
            val adds = df.filter(dayOf(id) === d.toInt).withColumn("op", lit("add"))
            val dels = df.filter(dayOf(id).isin(landedDays.toSeq: _*) && delOf(id) === k)
              .withColumn("op", lit("del"))
            land(adds.unionByName(dels), kind, f"e${d.toInt}%03d")
          }
          val tw = c.planDir.resolve(p.get("tweets").get(d).asText)
          landedBytes += Files.size(tw)
          Files.copy(tw, tweetSrc.resolve(tw.getFileName), StandardCopyOption.REPLACE_EXISTING)
        }
        takedowns += k -> landedDays.toSet
        tracer.span("streaming.ingest", "tweets")(
          streaming.Ingest.runAvailableNow(spark, tweetSrc.toString, tweetOut, ckpt("ingest")))
        members.foreach(m => tracer.span("streaming.drain", m)(drain(m)))
      }
    case Array("serve") =>
      c.op("serve") {
        members.foreach { m =>
          c.query(s"report:$m", finish = c.canon)(report(m)).foreach(served(m) = _)
        }
      }
  }

  override def traceState(op: Span): Unit = if (op.name.startsWith("day:")) {
    val whDir = java.nio.file.Paths.get(wh)
    val tables: Seq[Path] =
      if (!Files.exists(whDir)) Nil
      else Files.list(whDir).iterator().asScala.filter(Files.isDirectory(_)).toSeq
    op.attrs("incr") = members.map { m =>
      val mine = tables.filter(_.getFileName.toString.startsWith(prefix(m)))
      val (bytes, files) = mine.map(c.dirBytes).foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
      val names = mine.map(_.getFileName.toString)
      m -> Map("state_b" -> bytes, "files" -> files,
        "max_files_per_bucket" -> (0 +: names.map(ops.IncrState.maxFilesPerBucket(spark, _, wh))).max,
        "delta_epochs" -> (0 +: names.map(ops.IncrState.deltaDays(spark, _, wh).size)).max)
    }.toMap
  }

  def check(checks: mutable.ArrayBuffer[Map[String, Any]],
            oracle: mutable.ArrayBuffer[Map[String, Any]]): Unit = {
    def pin(name: String)(ok: => (Boolean, String)): Unit =
      try { val (b, d) = ok; checks += Map("name" -> name, "ok" -> b, "detail" -> d) }
      catch { case e: Throwable => checks += Map("name" -> name, "ok" -> false, "detail" -> c.errorText(e)) }
    extraOut("state_bytes") = c.dirBytes(java.nio.file.Paths.get(wh))._1
    if (landedDays.isEmpty) return
    Seq("docs", "emb", "events", "edges").foreach { k =>
      spark.read.parquet(inbox(k)).groupBy("op").count().collect()
        .foreach(r => landedRows(s"$k:${r.getString(0)}") = r.getLong(1))
    }
    // tweets: every landed non-empty tweet reaches the partitioned sink
    val want = landedDays.map(d => p.get("tweet_rows").get(d.toString).asLong).sum
    pin("ingest:rows") {
      val got = spark.read.parquet(tweetOut).count()
      (got == want, s"$got rows landed, $want expected")
    }
    // each member against its batch recompute on the reduced corpus, on
    // an isolated warehouse, with the k-means epoch settled on both sides
    val whE = root.resolve("wh_expected").toString
    def kept(df: DataFrame, id: Column, d: Int) = {
      val gone = takedowns.collect { case (k, days) if days(d) => k }.distinct
      val base = df.filter(dayOf(id) === d)
      if (gone.isEmpty) base else base.filter(!delOf(id).isin(gone.toSeq: _*))
    }
    val recomputed = try {
      ops.ClusterIncr.reassign(spark, prefix("cluster"), wh, nBuckets = nb)
      // k-means is read again because settling its epoch changes the report
      served("cluster") = c.canon(report("cluster"))
      val cust = Tables.customer(spark, dir)
      landedDays.zipWithIndex.foreach { case (d, i) =>
        val Seq((_, dd, di), (_, de, ei), (_, dv, vi), (_, dg, gi)) = kinds
        val (kd, ke, kv, kg) = (kept(dd, di, d), kept(de, ei, d), kept(dv, vi, d), kept(dg, gi, d))
        ops.CurateIncr.runDayRetractable(spark, kd, prefix("curate", "e"), whE, i, nBuckets = nb)
        ops.DedupIncr.runDay(spark, kd, prefix("dedup", "e"), whE, i, nBuckets = nb)
        ops.TfidfIncr.runDay(spark, kd, prefix("tfidf", "e"), whE, i, nBuckets = nb)
        ops.DomainsIncr.runDay(spark, kd, prefix("domains", "e"), whE, i, nBuckets = nb)
        ops.QualityIncr.runDay(spark, kv, cust, prefix("quality", "e"), whE, i, nBuckets = nb)
        ops.AnnIncr.runDay(spark, ke, prefix("ann", "e"), whE, i, nBuckets = nb)
        ops.ClusterIncr.runDay(spark, ke, prefix("cluster", "e"), whE, i, nBuckets = nb)
        ops.TriIncr.runDay(spark, kg, prefix("tri", "e"), whE, i, nBuckets = nb)
      }
      ops.ClusterIncr.reassign(spark, prefix("cluster", "e"), whE, nBuckets = nb)
      None
    } catch { case e: Throwable => Some(s"recompute failed: ${c.errorText(e)}") }
    // the served rows are the incremental side
    members.foreach { m =>
      pin(s"member:$m") {
        recomputed match {
          case Some(err) => (false, err)
          case None =>
            val (got, exp) = (served.getOrElse(m, Nil), c.canon(report(m, "e", whE)))
            (served.contains(m) && got == exp,
              s"${got.size} rows vs ${exp.size} recomputed${if (exp.isEmpty) " (empty on both sides)" else ""}")
        }
      }
    }
  }

  private val extraOut = mutable.LinkedHashMap[String, Any]()
  private val landedRows = mutable.LinkedHashMap[String, Long]()
  override def extra: Map[String, Any] = extraOut.toMap ++ Map(
    "landed_days" -> landedDays.toSeq, "takedowns" -> takedowns.map(_._1).toSeq)

  def inputs: Map[String, Any] = Map("rows" -> landedRows, "bytes" -> landedBytes)

  def cleanup(): Unit = {
    Seq("", "e").foreach(side => members.foreach(m => c.dropTablesWithPrefix(prefix(m, side))))
    c.delete(root)
  }
}
