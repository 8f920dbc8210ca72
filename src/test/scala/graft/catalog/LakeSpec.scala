package graft.catalog

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.{col, concat, date_add, lit, rand, year}
import org.apache.spark.sql.types._

class LakeSpec extends SparkSpec {
  import spark.implicits._

  private def newLake(): Lake =
    new Lake(spark, Files.createTempDirectory("graft_lake").toString)

  private val schema = StructType(Seq(
    StructField("ticker", StringType), StructField("date", StringType),
    StructField("year", IntegerType), StructField("v", DoubleType),
    StructField("seq", LongType)))
  private val meta = TableMeta("prices", schema, Seq("year"), Seq("ticker", "date"))

  private def rows(seq: Long, v: Double, y: Int = 2024) =
    Seq(("AAPL", "2024-01-02", y, v, seq), ("MSFT", "2024-01-02", y, v + 1, seq))
      .toDF("ticker", "date", "year", "v", "seq")

  test("date-range filters prune year partitions (DeriveYearPruning fires)") {
    // a filter on DATE alone must still read only the matching year=
    // directories: Lake.table tags the date column, the optimizer rule
    // derives the integer year bounds, and Spark's partition pruning
    // drops the other directories — asserted on selectedPartitions, not
    // just the plan text
    val lake = newLake()
    val sch = StructType(Seq(
      StructField("ticker", StringType), StructField("date", DateType),
      StructField("year", IntegerType), StructField("v", DoubleType)))
    lake.create(TableMeta("bars", sch, Seq("year"), Seq("ticker", "date")), "replace")
    lake.append("bars", Seq(
      ("A", java.sql.Date.valueOf("2022-06-01"), 2022, 1.0),
      ("A", java.sql.Date.valueOf("2023-06-01"), 2023, 2.0),
      ("A", java.sql.Date.valueOf("2024-06-01"), 2024, 3.0)
    ).toDF("ticker", "date", "year", "v"))
    def partitionsRead(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.selectedPartitions.partitionCount
      }.sum
    }
    assert(partitionsRead(lake.table("bars")) == 3) // baseline: all years
    val pruned = lake.table("bars")
      .filter(col("date") >= java.sql.Date.valueOf("2024-01-01"))
    assert(pruned.collect().map(_.getAs[Double]("v")).toSeq == Seq(3.0))
    assert(partitionsRead(pruned) == 1,
      "a date-range filter must prune to the single matching year partition")
    val mid = lake.table("bars")
      .filter(col("date") >= java.sql.Date.valueOf("2023-01-01") &&
        col("date") < java.sql.Date.valueOf("2024-01-01"))
    assert(mid.collect().map(_.getAs[Double]("v")).toSeq == Seq(2.0))
    assert(partitionsRead(mid) == 1)
  }

  test("create skip vs replace semantics") {
    val lake = newLake()
    lake.create(meta, "replace")
    lake.append("prices", rows(1, 10.0))
    lake.create(meta, "skip") // must NOT clear
    assert(lake.table("prices").count() == 2)
    lake.create(meta, "replace") // must clear
    assert(lake.table("prices").count() == 0)
    // replace over a table with rows drops them and writes only its batch
    lake.append("prices", rows(1, 10.0, 2023))
    lake.replace(meta, rows(2, 20.0))
    assert(lake.table("prices").collect()
      .map(r => (r.getAs[Int]("year"), r.getAs[Long]("seq"))).toSeq == Seq((2024, 2L), (2024, 2L)))
  }

  test("append accumulates duplicates; optimize dedupes last-write-wins") {
    val lake = newLake()
    lake.create(meta, "replace")
    lake.append("prices", rows(1, 10.0))
    lake.append("prices", rows(2, 20.0))
    assert(lake.table("prices").count() == 4)
    lake.optimize("prices", "seq")
    val out = lake.table("prices").collect()
    assert(out.length == 2)
    assert(out.forall(_.getAs[Long]("seq") == 2L)) // last write won
    // idempotent
    lake.optimize("prices", "seq")
    assert(lake.table("prices").count() == 2)
  }

  test("optimize rewrites only dirty partitions") {
    val lake = newLake()
    lake.create(meta, "replace")
    lake.append("prices", rows(1, 10.0, 2023))
    lake.optimize("prices", "seq")
    // dirty only 2024; 2023 partition has dup rows that must survive as-is
    lake.append("prices", rows(1, 1.0, 2024))
    lake.append("prices", rows(2, 2.0, 2024))
    lake.optimize("prices", "seq")
    val by = lake.table("prices").collect().groupBy(_.getAs[Int]("year"))
    assert(by(2023).length == 2)
    assert(by(2024).length == 2 && by(2024).forall(_.getAs[Long]("seq") == 2L))
  }

  test("ingest order survives reopening the lake (persisted counter)") {
    val root = Files.createTempDirectory("graft_lake").toString
    val lake1 = new Lake(spark, root)
    lake1.create(meta, "replace")
    lake1.append("prices", rows(1, 10.0))
    // a fresh Lake instance (new "process") must still stamp LATER than
    // the first instance's append — the round-1 nanoTime stamp did not
    val lake2 = new Lake(spark, root)
    lake2.append("prices", rows(2, 20.0))
    lake2.optimize("prices")
    val out = lake2.table("prices").collect()
    assert(out.length == 2)
    assert(out.forall(_.getAs[Double]("v") >= 20.0)) // second append won
  }

  test("intra-batch primary-key duplicates resolve to the later batch row") {
    val dup = Seq(
      ("AAPL", "2024-01-02", 2024, 1.0, 9L),
      ("AAPL", "2024-01-02", 2024, 2.0, 9L)) // same PK twice in one append
      .toDF("ticker", "date", "year", "v", "seq")
    // optimize resolves it after an append, replace before its one write
    val appended = newLake()
    appended.create(meta, "replace")
    appended.append("prices", dup)
    appended.optimize("prices")
    val replaced = newLake()
    replaced.replace(meta, dup)
    Seq(appended, replaced).foreach { lake =>
      val out = lake.table("prices").collect()
      assert(out.length == 1)
      assert(out.head.getAs[Double]("v") == 2.0) // later row in batch order
    }
    // a replaced table needs no rewrite: no ledger, the sidecar at the
    // batch's maximum, and the next date's upsert is gated
    val root = Files.createTempDirectory("graft_lake")
    val lake = new Lake(spark, root.toString)
    val (d2, d3) = (java.sql.Date.valueOf("2024-01-02"), java.sql.Date.valueOf("2024-01-03"))
    lake.replace(dated, Seq(("A", d2, 2024, 1.0), ("A", d3, 2024, 2.0), ("A", d3, 2024, 3.0))
      .toDF("ticker", "date", "year", "v"))
    assert(datedRows(lake) == Set(("A", "2024-01-02", 1.0), ("A", "2024-01-03", 3.0)))
    assert(!Files.exists(root.resolve("dated/_pending")))
    assert(Files.readString(root.resolve("dated/_graft_bounds")) ==
      s"date\t${d3.toLocalDate.toEpochDay}")
    lake.append("dated", day("2024-01-04", 4.0, Seq("A")))
    assert(optimizeJobs(lake, "dated") == 0)
    assert(datedRows(lake) == Set(("A", "2024-01-02", 1.0), ("A", "2024-01-03", 3.0),
      ("A", "2024-01-04", 4.0)))
  }

  test("date-range filters derive year partition pruning via the optimizer rule") {
    val lake = newLake()
    val dmeta = TableMeta("pt", StructType(Seq(
      StructField("ticker", StringType), StructField("date", DateType),
      StructField("year", IntegerType), StructField("v", DoubleType))),
      Seq("year"), Seq("ticker", "date"))
    lake.create(dmeta, "replace")
    val rows = for (y <- 2022 to 2024; m <- Seq(1, 6)) yield
      ("AAPL", java.sql.Date.valueOf(f"$y-$m%02d-15"), y, y + m / 100.0)
    lake.append("pt", rows.toDF("ticker", "date", "year", "v"))

    val q = lake.table("pt").filter(
      col("date").between("2023-01-01", "2023-12-31"))
    assert(q.count() == 2) // correctness unchanged
    val scan = q.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    // the rule must have derived year bounds that reached partition pruning
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "year")),
      scan.partitionFilters.mkString(", "))
    assert(scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .flatMap(_.files).nonEmpty)
  }

  test("optimize empties a partition whose rows all lost the dedupe to another partition") {
    // the primary key does not determine the partition: id=1 lands in
    // region a, then in region b; the rewrite keeps only b's row, so a
    // has no rewritten partition to swap in and must end up empty
    val lake = newLake()
    val sch = StructType(Seq(StructField("id", IntegerType),
      StructField("region", StringType), StructField("v", DoubleType)))
    lake.create(TableMeta("accounts", sch, Seq("region"), Seq("id")), "replace")
    lake.append("accounts", Seq((1, "a", 1.0)).toDF("id", "region", "v"))
    lake.append("accounts", Seq((1, "b", 2.0)).toDF("id", "region", "v"))
    lake.optimize("accounts")
    def rowsNow = lake.table("accounts").collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[String]("region"), r.getAs[Double]("v")))
      .toSeq
    assert(rowsNow == Seq((1, "b", 2.0)))
    // the pending ledger was cleared: the next optimize is a no-op, not a
    // replay of the failed swap
    lake.optimize("accounts")
    assert(rowsNow == Seq((1, "b", 2.0)))
  }

  test("declared schema round-trips through the catalog") {
    val lake = newLake()
    lake.create(meta, "replace")
    assert(lake.table("prices").schema.fieldNames.toSeq ==
      Seq("ticker", "date", "year", "v", "seq"))
    assert(lake.meta("prices").primaryKeys == Seq("ticker", "date"))
  }

  test("leftover temp files from interrupted commit writes break neither append nor optimize") {
    val root = Files.createTempDirectory("graft_lake")
    val lake = new Lake(spark, root.toString)
    lake.create(meta, "replace")
    def batch(date: String, y: Int, v: Double) =
      Seq(("AAPL", date, y, v, 1L), ("MSFT", date, y, v + 1, 1L))
        .toDF("ticker", "date", "year", "v", "seq")
    lake.append("prices", batch("2023-06-01", 2023, 1.0))
    val t = root.resolve("prices")
    // every commit file's write was interrupted once: each temp file
    // holds a truncated prefix of its content
    Files.writeString(t.resolve("_pending.tmp"), "20")
    Files.writeString(t.resolve("_graft_seq.tmp"), "")
    Files.writeString(t.resolve("_graft_meta.json.tmp"), "{\"name\":")
    // ... and an append died while writing its promote marker: staged
    // data, a partial marker temp, no marker — an uncommitted batch
    Files.createDirectories(t.resolve("_append_tmp/year=2025"))
    Files.writeString(t.resolve("_append_tmp/year=2025/part-00000-x.parquet"), "x")
    Files.writeString(t.resolve("_append_tmp/_graft_promote.tmp"), "20")
    lake.append("prices", batch("2024-01-02", 2024, 5.0))
    // the ledger lists every partition appended since the last optimize,
    // and the commit writes went through their temp files
    assert(Files.readString(t.resolve("_pending")).split("\n").toSet ==
      Set("2023", "2024"))
    assert(!Files.exists(t.resolve("_pending.tmp")) &&
      !Files.exists(t.resolve("_graft_seq.tmp")))
    lake.optimize("prices")
    val got = lake.table("prices").orderBy("year", "ticker").collect()
      .map(r => (r.getAs[Int]("year"), r.getAs[String]("ticker"), r.getAs[Double]("v")))
    assert(got.toSeq == Seq((2023, "AAPL", 1.0), (2023, "MSFT", 2.0),
      (2024, "AAPL", 5.0), (2024, "MSFT", 6.0)))
  }

  test("optimize compacts partitions whose values Spark escapes in directory names") {
    // Spark writes region=us%3Aeast for "us:east" and region=a%2Fb for
    // "a/b"; the ledger must name those directories, and a value with a
    // newline must not split its ledger entry
    val root = Files.createTempDirectory("graft_lake")
    val lake = new Lake(spark, root.toString)
    val sch = StructType(Seq(StructField("id", IntegerType),
      StructField("region", StringType), StructField("v", DoubleType)))
    lake.create(TableMeta("accounts", sch, Seq("region"), Seq("id")), "replace")
    val regions = Seq(Some("us:east"), Some("a/b"), Some("x\ny"), None)
    def batch(v: Double) = regions.zipWithIndex.map { case (r, i) => (i, r, v) }
      .toDF("id", "region", "v")
    lake.append("accounts", batch(1.0))
    lake.append("accounts", batch(2.0))
    lake.optimize("accounts")
    val got = lake.table("accounts").orderBy("id").collect()
      .map(r => (r.getAs[Int]("id"), Option(r.getAs[String]("region")), r.getAs[Double]("v")))
    assert(got.toSeq == regions.zipWithIndex.map { case (r, i) => (i, r, 2.0) })
    assert(!Files.exists(root.resolve("accounts/_pending")))
  }

  // --- the collision gate: an upsert that only adds new keys skips its
  // rewrite; every case below fails if the gate skips where it must not

  private val dated = TableMeta("dated", StructType(Seq(
    StructField("ticker", StringType), StructField("date", DateType),
    StructField("year", IntegerType), StructField("v", DoubleType))),
    Seq("year"), Seq("ticker", "date"))

  /** One row per ticker on `d`. */
  private def day(d: String, v: Double, tickers: Seq[String] = Seq("A", "B")) =
    tickers.map(t => (t, java.sql.Date.valueOf(d), d.take(4).toInt, v))
      .toDF("ticker", "date", "year", "v")

  private def datedRows(lake: Lake) = lake.table("dated").collect()
    .map(r => (r.getAs[String]("ticker"), r.getAs[java.sql.Date]("date").toString,
      r.getAs[Double]("v"))).toSet

  /** A table whose key (`id`) does not determine its partition (`region`). */
  private val accounts = TableMeta("accounts", StructType(Seq(
    StructField("id", IntegerType), StructField("region", StringType),
    StructField("v", DoubleType))), Seq("region"), Seq("id"))

  private def acct(rows: (Option[Int], String, Double)*) = rows.toDF("id", "region", "v")

  private def acctRows(lake: Lake) = lake.table("accounts").collect()
    .map(r => (Option(r.getAs[Integer]("id")).map(_.toInt), r.getAs[String]("region"),
      r.getAs[Double]("v"))).toSet

  private val jobKey = "graft.lake.spec.jobs"

  /** Spark jobs `body` starts on this thread: those that carry its local
    * property.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(jobKey) == tag) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(jobKey, tag)
    try {
      body
      assert(org.apache.spark.graftbench.ListenerDrain.drain(sc, 30000))
      n.get
    } finally {
      sc.setLocalProperty(jobKey, null)
      sc.removeSparkListener(listener)
    }
  }

  private def optimizeJobs(lake: Lake, t: String): Int = jobsOf(lake.optimize(t))

  test("gate: optimize after a collision-free append starts no Spark job") {
    val root = Files.createTempDirectory("graft_lake")
    val lake = new Lake(spark, root.toString)
    lake.create(dated, "replace")
    lake.append("dated", day("2024-01-02", 1.0))
    assert(optimizeJobs(lake, "dated") == 0)
    assert(!Files.exists(root.resolve("dated/_pending")))
    lake.append("dated", day("2024-01-03", 2.0))
    assert(optimizeJobs(lake, "dated") == 0)
    // the listener sees a rewrite when there is one
    lake.append("dated", day("2024-01-03", 3.0))
    assert(optimizeJobs(lake, "dated") > 0)
    assert(datedRows(lake) == Set(("A", "2024-01-02", 1.0), ("B", "2024-01-02", 1.0),
      ("A", "2024-01-03", 3.0), ("B", "2024-01-03", 3.0)))
  }

  test("gate: re-upserting the same date dedupes to the last write") {
    val lake = newLake()
    lake.create(dated, "replace")
    lake.append("dated", day("2024-01-02", 1.0))
    lake.optimize("dated")
    lake.append("dated", day("2024-01-02", 2.0)) // min == recorded max: a collision
    lake.optimize("dated")
    assert(datedRows(lake) == Set(("A", "2024-01-02", 2.0), ("B", "2024-01-02", 2.0)))
  }

  test("gate: a key that does not determine its partition still dedupes across partitions") {
    val lake = newLake()
    lake.create(accounts, "replace")
    lake.append("accounts", acct((Some(1), "a", 1.0), (Some(2), "a", 1.0))) // collision-free
    lake.append("accounts", acct((Some(3), "c", 1.0))) // collision-free
    lake.append("accounts", acct((Some(1), "b", 2.0))) // id 1 is stored in region a
    lake.optimize("accounts")
    assert(acctRows(lake) == Set((Some(2), "a", 1.0), (Some(3), "c", 1.0), (Some(1), "b", 2.0)))
  }

  test("gate: a batch with an internal duplicate still dedupes") {
    val lake = newLake()
    lake.create(dated, "replace")
    lake.append("dated", day("2024-01-02", 1.0))
    lake.optimize("dated")
    // a new date only, but one key twice: the later row in batch order wins
    val d = java.sql.Date.valueOf("2024-01-03")
    lake.append("dated", Seq(("A", d, 2024, 2.0), ("B", d, 2024, 2.0), ("A", d, 2024, 3.0))
      .toDF("ticker", "date", "year", "v"))
    lake.optimize("dated")
    assert(lake.table("dated").count() == 4)
    assert(datedRows(lake) == Set(("A", "2024-01-02", 1.0), ("B", "2024-01-02", 1.0),
      ("A", "2024-01-03", 3.0), ("B", "2024-01-03", 2.0)))
  }

  test("gate: a batch over the row cap that holds a duplicate still dedupes") {
    val lake = newLake()
    lake.create(accounts, "replace")
    val n = Lake.KeyCap + 10
    // the duplicate is the LARGEST key, so the first KeyCap keys in key
    // order are distinct
    val rows = (1 to n).map(i => (Option(i), "a", 1.0)) :+ ((Option(n), "a", 2.0))
    lake.append("accounts", acct(rows: _*))
    lake.optimize("accounts")
    val out = lake.table("accounts")
    assert(out.count() == n)
    assert(out.select("id").distinct().count() == n)
  }

  /** The largest serialized result of a task `body` runs: an observed
    * metric's partial buffer rides in it to the driver.
    */
  private def maxTaskResult(body: => Unit): Long = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val max = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(jobKey) == tag)
          e.stageIds.foreach(stages.add)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          max.accumulateAndGet(e.taskMetrics.resultSize, math.max)
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(jobKey, tag)
    try {
      body
      assert(org.apache.spark.graftbench.ListenerDrain.drain(sc, 30000))
      max.get
    } finally {
      sc.setLocalProperty(jobKey, null)
      sc.removeSparkListener(listener)
    }
  }

  test("gate: a batch over the row cap over many partitions sends no keys to the driver") {
    val root = Files.createTempDirectory("graft_lake")
    val lake = new Lake(spark, root.toString)
    lake.create(accounts, "replace")
    def over8(rows: Seq[(Option[Int], String, Double)]) =
      spark.sparkContext.parallelize(rows, 8).toDF("id", "region", "v")
    val small = maxTaskResult(lake.append("accounts",
      over8((1 to 8).map(i => (Option(i), "a", 1.0)))))
    lake.optimize("accounts")
    // 1,024 rows per task, past each task's share (KeyCap / 8) though
    // under KeyCap; id 5 is stored, and id 101 is in the batch twice
    val n = 2 * Lake.KeyCap
    val big = over8((5 +: (101 until 100 + n)).map(i => (Option(i), "a", 2.0)) :+
      ((Option(101), "b", 3.0)))
    val bigMax = maxTaskResult(lake.append("accounts", big))
    assert(bigMax < small + 1024, s"task results of $bigMax bytes against $small")
    assert(Files.readString(root.resolve("accounts/_pending")).split("\n").toSet == Set("a", "b"))
    lake.optimize("accounts")
    val out = acctRows(lake)
    assert(out.size == n + 7)
    assert(out.contains((Some(5), "a", 2.0)) && out.contains((Some(101), "b", 3.0)))
    assert(!out.exists(r => r._1.contains(101) && r._2 == "a"))
  }

  test("gate: a string key that is also a partition column is not gated") {
    // "" and null both land in the default partition and read back null,
    // so two keys distinct in the batch are one key once stored
    val named = TableMeta("named", StructType(Seq(
      StructField("name", StringType), StructField("id", IntegerType),
      StructField("v", DoubleType))), Seq("name"), Seq("name", "id"))
    val lake = newLake()
    lake.create(named, "replace")
    lake.append("named", Seq(("", 1, 1.0), (null, 1, 2.0)).toDF("name", "id", "v"))
    lake.optimize("named")
    assert(lake.table("named").collect().map(r => (Option(r.getString(0)), r.getInt(1),
      r.getDouble(2))).toSeq == Seq((None, 1, 2.0)))
  }

  test("gate: a null in the gate column still dedupes against a stored null-key row") {
    val lake = newLake()
    lake.create(accounts, "replace")
    lake.append("accounts", acct((Some(1), "a", 1.0), (None, "a", 1.0)))
    lake.optimize("accounts")
    // the non-null ids are all above the recorded max, but the null key
    // collides with the stored null key
    lake.append("accounts", acct((Some(5), "a", 2.0), (None, "a", 2.0)))
    lake.optimize("accounts")
    assert(acctRows(lake) == Set((Some(1), "a", 1.0), (None, "a", 2.0), (Some(5), "a", 2.0)))
  }

  test("gate: a table with no sidecar (written before it existed) still dedupes") {
    val root = Files.createTempDirectory("graft_lake")
    val lake = new Lake(spark, root.toString)
    lake.create(accounts, "replace")
    lake.append("accounts", acct((Some(1), "a", 1.0)))
    lake.optimize("accounts")
    Files.delete(root.resolve("accounts/_graft_bounds"))
    lake.append("accounts", acct((Some(1), "a", 2.0)))
    lake.optimize("accounts")
    assert(acctRows(lake) == Set((Some(1), "a", 2.0)))
    assert(!Files.exists(root.resolve("accounts/_graft_bounds")))
  }

  test("gate: staging left after the marker rolls forward with the same verdict") {
    val root = Files.createTempDirectory("graft_lake")
    val lake = new Lake(spark, root.toString)
    lake.create(accounts, "replace")
    lake.append("accounts", acct((Some(1), "a", 1.0))) // collision-free, pending
    // a regular file where region b's directory goes: the append writes
    // its marker, then dies moving its files in
    val blocker = root.resolve("accounts/data/region=b")
    Files.writeString(blocker, "x")
    intercept[java.nio.file.FileAlreadyExistsException](
      lake.append("accounts", acct((Some(1), "b", 2.0))))
    val staging = root.resolve("accounts/_append_tmp")
    assert(Files.readString(staging.resolve("_graft_promote")) == "b") // not collision-free
    Files.delete(blocker)
    lake.append("accounts", acct((Some(7), "c", 3.0))) // rolls the crashed batch forward
    assert(!Files.exists(staging))
    assert(Files.readString(root.resolve("accounts/_pending")).split("\n").toSet ==
      Set("a\tfree", "b", "c\tfree"))
    lake.optimize("accounts")
    assert(acctRows(lake) == Set((Some(1), "b", 2.0), (Some(7), "c", 3.0)))
  }

  test("gate: create(replace) resets the bound") {
    val lake = newLake()
    lake.create(dated, "replace")
    lake.append("dated", day("2024-06-03", 1.0))
    lake.create(dated, "replace")
    // below the old table's max, above the new (empty) table's
    lake.append("dated", day("2024-01-02", 2.0))
    assert(optimizeJobs(lake, "dated") == 0)
    assert(datedRows(lake) == Set(("A", "2024-01-02", 2.0), ("B", "2024-01-02", 2.0)))
  }

  test("gate: a collision-free partition past the file bound is bin-packed") {
    val root = Files.createTempDirectory("graft_lake")
    val lake = new Lake(spark, root.toString)
    lake.create(dated, "replace")
    val part = root.resolve("dated/data/year=2024")
    def files = Files.list(part).iterator.asScala
      .count(_.getFileName.toString.startsWith("part-"))
    val days = Iterator.iterate(java.time.LocalDate.of(2024, 1, 1))(_.plusDays(1))
      .take(Lake.MaxPartFiles + 1).map(_.toString).toSeq
    days.foreach { d =>
      lake.append("dated", day(d, 1.0, Seq("A")))
      val before = files
      val jobs = optimizeJobs(lake, "dated")
      assert((jobs > 0) == (before > Lake.MaxPartFiles), s"$d: $before files, $jobs jobs")
      assert(files <= Lake.MaxPartFiles)
    }
    assert(datedRows(lake) == days.map(d => ("A", d, 1.0)).toSet)
  }

  test("replace writes one part file per partition directory") {
    val root = Files.createTempDirectory("graft_lake")
    val lake = new Lake(spark, root.toString)
    // big enough that AQE keeps the dedupe's 2 shuffle partitions, each
    // holding rows of both years
    val batch = spark.range(200000).select(
      concat(lit("T"), (col("id") % 1000).cast("string")).as("ticker"),
      date_add(lit(java.sql.Date.valueOf("2023-07-01")), (col("id") / 1000).cast("int")).as("date"),
      rand(7).as("v"))
      .withColumn("year", year(col("date")))
    lake.replace(dated, batch)
    val files = Seq(2023, 2024).map { y =>
      Files.list(root.resolve(s"dated/data/year=$y")).iterator.asScala
        .count(_.getFileName.toString.startsWith("part-"))
    }
    assert(files == Seq(1, 1), s"part files per year: $files")
    assert(lake.table("dated").count() == 200000)
  }

  test("a failed rewrite throws from optimize, keeps the ledger, and is retried") {
    val root = Files.createTempDirectory("graft_lake")
    val lake = new Lake(spark, root.toString)
    lake.create(meta, "replace")
    lake.append("prices", rows(1, 10.0))
    val part = root.resolve("prices/data/year=2024")
    val first = Files.list(part).filter(_.getFileName.toString.startsWith("part-"))
      .findFirst().get
    lake.append("prices", rows(2, 20.0))
    Files.write(first, Array.fill[Byte](64)(7)) // not Parquet any more
    // optimize itself throws the read error, which names the bad file
    val e = intercept[Throwable](lake.optimize("prices"))
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains(first.getFileName.toString)), e.toString)
    // the ledger is kept for a retry
    assert(Files.readString(root.resolve("prices/_pending")).split("\n").toSeq == Seq("2024"))
    // with the bad file gone the retry lands
    Files.delete(first)
    lake.optimize("prices")
    assert(lake.table("prices").collect().map(_.getAs[Long]("seq")).toSeq == Seq(2L, 2L))
  }
}
