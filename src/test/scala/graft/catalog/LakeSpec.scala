package graft.catalog

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions.col
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
    val lake = newLake()
    lake.create(meta, "replace")
    val dup = Seq(
      ("AAPL", "2024-01-02", 2024, 1.0, 9L),
      ("AAPL", "2024-01-02", 2024, 2.0, 9L)) // same PK twice in one append
      .toDF("ticker", "date", "year", "v", "seq")
    lake.append("prices", dup)
    lake.optimize("prices")
    val out = lake.table("prices").collect()
    assert(out.length == 1)
    assert(out.head.getAs[Double]("v") == 2.0) // later row in batch order
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
}
