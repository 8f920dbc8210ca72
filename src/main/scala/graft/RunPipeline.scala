package graft

import java.time.LocalDate

import org.apache.spark.sql.SparkSession

import graft.catalog.Lake
import graft.connect.FixtureBarSource
import graft.pipeline.DailyPipeline
import graft.stages.Variables

/** CLI entry: run the full reference-shaped pipeline (backfill + one
  * incremental daily step) against fixture market data in a local lake.
  *
  *   sbt "runMain graft.RunPipeline /tmp/graft_lake"
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--streaming")) { runStreaming(args(1)); return }
    if (args.headOption.contains("--corpus")) {
      runCorpus(args.lift(1).getOrElse("/tmp/graft_corpus"),
        args.lift(2).getOrElse("/root/testdata/sf0.001")); return
    }
    val root = args.headOption.getOrElse("/tmp/graft_lake")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.extensions", classOf[graft.expr.catalyst.GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-pipeline")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val lake = new Lake(spark, root)
    val pipe = new DailyPipeline(spark, lake)
    val source = new FixtureBarSource(42L)

    val start = LocalDate.of(2022, 1, 3)
    val end = LocalDate.of(2024, 6, 28)
    val tickers = Seq("AAA", "BBB", "CCC", "DDD", "EEE", "FFF", "GGG", "HHH")

    pipe.initTables("replace")
    pipe.writeCalendar(start, end)

    // S6 -> W10: constituents + change log from an HTML fixture -> universe
    val html =
      """<table><tr><th>Symbol</th></tr>""" +
        tickers.map(t => s"<tr><td>$t</td></tr>").mkString +
        """</table>
          |<table><tr><th>Date</th><th>Ticker</th><th>Action</th></tr>
          |<tr><td>June 17, 2022</td><td>GGG</td><td>Added</td></tr>
          |<tr><td>March 18, 2022</td><td>HHH</td><td>Added</td></tr>
          |<tr><td>September 16, 2022</td><td>III</td><td>Removed</td></tr>
          |</table>""".stripMargin
    import org.apache.spark.sql.functions._
    val changes = graft.connect.HtmlTableSource.table(spark, html, 1)
      .select(col("ticker"), to_date(col("date"), "MMMM d, yyyy").as("date"),
        col("action"), monotonically_increasing_id().as("seq"))
    val current = graft.connect.HtmlTableSource.table(spark, html, 0).select(col("symbol"))
    val uni = graft.stages.Stages.universe(changes, current, lake.table("calendar"))
    lake.append("universe", uni)
    val stock = source.dailyBars(spark, tickers, start, end).cache()
    val etf = source.dailyBars(spark, Variables.Factors, start, end).cache()

    val t0 = System.nanoTime()
    pipe.backfill(stock, etf)
    val tBackfill = (System.nanoTime() - t0) / 1e9

    // one incremental daily step on the last market day
    val t1 = System.nanoTime()
    pipe.daily(end, stock, etf)
    val tDaily = (System.nanoTime() - t1) / 1e9

    // minute-bar history for the last market day (S8/S12)
    pipe.writeHistory("stock_history", source.minuteBars(spark, tickers, end))
    pipe.writeHistory("etf_history", source.minuteBars(spark, Variables.Factors, end))

    // broker equity curve -> portfolio_history (S9), plus a Slack summary
    val broker = new graft.connect.FixtureBrokerSource(42L, tickers)
    pipe.writeHistory("portfolio_history", broker.equityHistory(spark, end))
    val weights = lake.table("portfolio_weights")
      .filter(org.apache.spark.sql.functions.col("date") === java.sql.Date.valueOf(end))
      .orderBy(org.apache.spark.sql.functions.col("weight").desc)
      .collect().map(r => r.getAs[String]("ticker") -> r.getAs[Double]("weight"))
    val equity = broker.equityHistory(spark, end)
      .orderBy(org.apache.spark.sql.functions.col("timestamp").desc)
      .limit(1).collect().head.getDouble(1)
    var payload: String = null
    graft.connect.Slack.notify(
      graft.connect.Slack.dailySummary(end.toString, equity,
        weights.take(3).toSeq, weights.takeRight(3).toSeq),
      p => payload = p)
    // full-fidelity daily trading summary from the broker frames
    // (positions/orders/top-3 movers — reference slack_daily_summary.py)
    var trading: String = null
    graft.connect.Slack.notify(
      graft.connect.Slack.dailyTradingSummaryFrames(
        broker.filledOrders(spark, end), broker.positions(spark), equity),
      p => trading = p)
    println(s"[pipeline] slack payload bytes=${payload.length} trading=${trading.length}")

    val counts = pipe.tables.map(t => s"${t.name}=${lake.table(t.name).count()}")
    println(s"[pipeline] backfill=${f"$tBackfill%.1f"}s daily=${f"$tDaily%.1f"}s")
    println(s"[pipeline] ${counts.mkString(" ")}")
    spark.stop()
  }

  /** Corpus curation demo: run the full LLM-data DAG
    * (annotate → dedup/canonicalize → sample → stats) over the documents
    * fixture into a local lake.
    *
    *   sbt "runMain graft.RunPipeline --corpus /tmp/graft_corpus /root/testdata/sf0.01"
    */
  private def runCorpus(root: String, sfDir: String): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.extensions", classOf[graft.expr.catalyst.GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-corpus").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions.col
    val lake = new Lake(spark, root)
    val all = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    // hold out every 10th doc as the "eval set" the decontamination
    // stage screens against the kept training corpus
    val docs = all.filter(col("doc_id") % 10 =!= 0)
    val evalDocs = all.filter(col("doc_id") % 10 === 0)
    val t0 = System.nanoTime()
    new graft.pipeline.CorpusPipeline(spark, lake)
      .run(docs, Map("en" -> 0.5, "de" -> 0.5), defaultRate = 0.9,
        evalDocs = Some(evalDocs))
    val secs = (System.nanoTime() - t0) / 1e9
    val stats = lake.table("corpus_stats").orderBy("lang").collect()
      .map(r => s"${r.getString(0)}:docs=${r.getLong(1)},kept=${r.getLong(2)},sampled=${r.getLong(3)}")
    val leaked = lake.table("eval_contamination")
      .filter(col("n_hits") > 0).count()
    println(s"[corpus] ${f"$secs%.1f"}s ${stats.mkString(" ")} leaked_eval_docs=$leaked")
    spark.stop()
  }

  /** Streaming demo: treat the events table as an unbounded file source,
    * run the watermarked hourly rollup, land results in a memory sink.
    *
    *   sbt "runMain graft.RunPipeline --streaming /root/testdata/sf0.01"
    */
  private def runStreaming(sfDir: String): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.schemaInference", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the Bench streaming entries' state store; the sessionize leg
    // reports state rows, so the row counter stays on
    graft.streaming.StreamBenchShapes.useStateStore(spark, trackRows = true)
    import org.apache.spark.sql.functions._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // file sources stream a DIRECTORY of arriving files
    val inDir = java.nio.file.Files.createTempDirectory("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      inDir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    // same two-vintage ts normalization as Tables.load: nanos-as-long
    // vintage divides to micros; TIMESTAMP(MICROS)-NTZ vintage casts to
    // session-tz TimestampType (session pinned UTC — value identity)
    val raw = spark.readStream.schema(schema).parquet(inDir.toString)
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val stream = schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
    val q = graft.streaming.StreamOps.hourlyRollup(stream)
      .writeStream.format("memory").queryName("rollup").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val n = spark.table("rollup").count()
    val top = spark.table("rollup").orderBy(col("hour_us")).limit(3).collect()
    println(s"[streaming] hourly rollup rows=$n first=${top.mkString(" ")}")

    // second leg: bounded-state sessionization over the same file stream
    // — the event-time-watermark mode (gap rule drives the state
    // timeout; keys removed at flush), i.e. the production shape the
    // state-scale probe measures. The watermark-advance batch after the
    // file's data batch flushes every session whose end+gap the
    // watermark passed, so a bounded replay emits all but the tail.
    import spark.implicits._
    val events = stream
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .as[graft.streaming.StreamOps.Event]
    val q2 = graft.streaming.StreamOps
      .sessionize(events, timestampIds = true,
        eventTimeWatermark = Some("1 hour"))
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    q2.processAllAvailable()
    val stateRows =
      q2.lastProgress.stateOperators.map(_.numRowsTotal).sum
    q2.stop()
    val ns = spark.table("sessions").count()
    require(ns > 0, "sessionize leg emitted no sessions")
    println(s"[streaming] sessions rows=$ns state_rows=$stateRows " +
      s"(open sessions only — evicted keys are removed, not marked)")
    spark.stop()
  }
}
