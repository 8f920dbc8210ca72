package graft.catalog

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Managed partitioned-Parquet table layer reproducing the reference
  * lakehouse client's observable semantics (`bear_lake_client` usage at
  * reference `pipelines/stock_prices_flow.py:98-121`):
  *
  *   - `create(mode=replace|skip)`: declare schema + partition keys +
  *     primary keys (S2)
  *   - `append`: blind row append (S3)
  *   - `optimize`: primary-key dedupe, last-write-wins (S4) — together the
  *     reference's upsert
  *
  * Scale notes: appends land as new Parquet files inside `year=` partition
  * directories (no read-modify-write); `optimize` rewrites ONLY the
  * partitions that received appends since the last optimize (tracked via a
  * pending marker), using `row_number` over the PK — the standard
  * compact-and-dedupe pattern. Readers prune partitions through the
  * `partitionBy` layout, and predicate pushdown reaches the Parquet scan.
  */
final case class TableMeta(
    name: String,
    schema: StructType,
    partitionKeys: Seq[String],
    primaryKeys: Seq[String])

class Lake(spark: SparkSession, root: String) {

  private def dir(name: String) = s"$root/$name"
  private def metaPath(name: String) = Paths.get(s"$root/$name/_graft_meta.json")

  def exists(name: String): Boolean = Files.exists(metaPath(name))

  /** S2: create with replace/skip semantics. */
  def create(meta: TableMeta, mode: String): Unit = {
    require(mode == "replace" || mode == "skip", s"bad mode $mode")
    if (exists(meta.name)) {
      if (mode == "skip") return
      deleteRecursively(Paths.get(dir(meta.name)))
    }
    Files.createDirectories(Paths.get(dir(meta.name)))
    def arrJson(xs: Seq[String]) =
      if (xs.isEmpty) "[]" else xs.mkString("[\"", "\",\"", "\"]")
    val json = Seq(
      "\"name\":\"" + meta.name + "\"",
      "\"schema\":" + meta.schema.json,
      "\"partitionKeys\":" + arrJson(meta.partitionKeys),
      "\"primaryKeys\":" + arrJson(meta.primaryKeys)
    ).mkString("{", ",", "}")
    Fs.writeAtomic(metaPath(meta.name), json)
    // empty frame with declared schema so reads of a fresh table work
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], meta.schema)
      .withColumn(SeqCol, lit(0L)).withColumn(SubCol, lit(0L))
      .write.mode(SaveMode.Append)
      .partitionBy(meta.partitionKeys: _*).parquet(dataDir(meta.name))
  }

  /** Internal ingest-order columns: each appended batch gets the next value
    * of a persisted per-table counter (`_graft_seq` file), so `optimize` can
    * resolve primary-key conflicts last-write-wins even though Parquet has
    * no file order. The counter survives JVM restarts — unlike a clock
    * stamp, a later run's append always orders after an earlier run's.
    * Within one batch, `_graft_ingest_sub` (monotonically_increasing_id at
    * append time) breaks ties by partition-then-position order — batch row
    * order whenever the input's partitioning preserves it (a shuffled
    * input has no well-defined row order to preserve).
    *
    * Writer model: single writer per table, like the reference's nightly
    * flow (bear-lake appends are sequential there too). Every commit file
    * (this counter, `_graft_meta.json`, `_graft_promote`, `_pending`) is
    * written by temp file + atomic move ([[Fs.writeAtomic]]) so a crash
    * never leaves a truncated one; if the counter is ever unreadable, it
    * recovers from max(SeqCol) in the data.
    */
  private val SeqCol = "_graft_ingest_seq"
  private val SubCol = "_graft_ingest_sub"

  private def counterPath(name: String) = Paths.get(s"${dir(name)}/_graft_seq")

  private def nextSeq(name: String): Long = {
    val p = counterPath(name)
    // a missing file on a table WITH data (lost in a copy/cleanup) must
    // recover like a corrupted one — resetting to 1 would make optimize
    // prefer old rows over new appends
    val cur = scala.util.Try(Files.readString(p).trim.toLong).getOrElse {
      tableRaw(name).agg(coalesce(max(col(SeqCol)), lit(0L))).first().getLong(0)
    }
    val next = cur + 1
    Fs.writeAtomic(p, next.toString)
    next
  }

  private def dataDir(name: String) = s"${dir(name)}/data"

  /** Canonical partition-value string for the `_pending` ledger and the
    * optimize scope filter: null partition values are spelled the way
    * Spark writes their directories (`__HIVE_DEFAULT_PARTITION__`), so a
    * null-keyed partition is tracked, matched, and compacted like any
    * other. A bare `concat_ws` would silently SKIP nulls — dropping the
    * partition from the ledger entirely (single key) or truncating the
    * path to the wrong arity (multi key).
    */
  private def partitionString(keys: Seq[String]) =
    concat_ws("/", keys.map(k =>
      coalesce(col(k).cast("string"), lit("__HIVE_DEFAULT_PARTITION__"))): _*)

  def meta(name: String): TableMeta = {
    // minimal parse: schema json is produced by us; extract fields
    val s = Files.readString(metaPath(name))
    def arr(key: String): Seq[String] = {
      val m = ("\"" + key + "\":\\[(.*?)\\]").r.findFirstMatchIn(s).get.group(1)
      if (m.isEmpty) Seq.empty else m.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
    }
    val schemaJson = s.substring(s.indexOf("\"schema\":") + 9, s.indexOf(",\"partitionKeys\""))
    TableMeta(name, org.apache.spark.sql.types.DataType.fromJson(schemaJson).asInstanceOf[StructType],
      arr("partitionKeys"), arr("primaryKeys"))
  }

  /** S1: scan (ingest-order column hidden). */
  def table(name: String): DataFrame =
    tableRaw(name).select(meta(name).schema.fieldNames.map(col).toIndexedSeq: _*)

  /** The read schema tags the `date` DATA column (partition columns lose
    * user-schema metadata when Spark rebuilds the partition schema) with
    * the name of its `year` partition column, so the
    * [[graft.expr.catalyst.DeriveYearPruning]] optimizer rule still sees
    * the tag after predicate pushdown moves date filters down to the scan
    * and can add partition-pruning year bounds.
    */
  private def tableRaw(name: String): DataFrame = {
    val m = meta(name)
    val tagYear = m.partitionKeys.contains("year") && m.schema.fieldNames.contains("date")
    def fld(f: org.apache.spark.sql.types.StructField) =
      if (f.name == "date" && tagYear)
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putString(graft.expr.catalyst.DeriveYearPruning.Tag, "year").build())
      else f
    val onDisk = StructType(
      m.schema.filterNot(f => m.partitionKeys.contains(f.name)).map(fld) ++
        Seq(org.apache.spark.sql.types.StructField(SeqCol, org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField(SubCol, org.apache.spark.sql.types.LongType)) ++
        m.schema.filter(f => m.partitionKeys.contains(f.name)).map(fld))
    spark.read.schema(onDisk).parquet(dataDir(name))
  }

  /** S3: append; stamps ingest order and records dirty partitions. For
    * date-derived year partitions, the `year == year(date)` invariant the
    * [[graft.expr.catalyst.DeriveYearPruning]] rule relies on is enforced
    * here — a violating row would silently vanish from date-range queries
    * later, so fail the append instead.
    *
    * ONE Spark job per append: the input is written once to a staging
    * directory with `observe()` metrics riding the write — the invariant
    * violation count and the distinct partition values (bounded: one
    * string per touched partition) — then the files are promoted into the
    * data directory only if the invariant holds. The earlier form ran the
    * input three times (guard count, write, dirty-partition distinct),
    * which triples an expensive upstream frame; staging also means a
    * violating or crashed append never leaves partial files in the table.
    *
    * Crash model: part files are promoted only after a `_graft_promote`
    * marker (holding the batch's dirty-partition strings) lands in
    * staging, so the next append can tell a validated half-promoted batch
    * (marker present → finish the move and merge the marker's partitions
    * into `_pending`) from an unvalidated partial write (no marker →
    * discard). Promotion is resumable because part file names are
    * globally unique: files already moved are simply absent from staging.
    */
  def append(name: String, df: DataFrame): Unit = {
    val m = meta(name)
    recoverStaging(name)
    val checkYear = m.partitionKeys.contains("year") &&
      m.schema.fields.exists(f => f.name == "date" &&
        f.dataType == org.apache.spark.sql.types.DateType)
    val aligned = df.select(m.schema.fieldNames.map(col).toIndexedSeq: _*)
      .withColumn(SeqCol, lit(nextSeq(name)))
      .withColumn(SubCol, monotonically_increasing_id())
    val obs = org.apache.spark.sql.Observation()
    // null year/date rows are not violations (matches the former
    // `year =!= year(date)` filter, where a null comparison drops the row)
    val badMetric =
      if (checkYear)
        sum(when(col("year") =!= year(col("date")), 1L).otherwise(0L)).as("bad")
      else sum(lit(0L)).as("bad")
    val partsMetric = collect_set(partitionString(m.partitionKeys)).as("parts")
    val staging = s"${dir(name)}/_append_tmp"
    deleteRecursively(Paths.get(staging))
    aligned.observe(obs, badMetric, partsMetric)
      .write.mode(SaveMode.Overwrite)
      .partitionBy(m.partitionKeys: _*).parquet(staging)
    val got = obs.get
    val bad = Option(got("bad")).map(_.asInstanceOf[Long]).getOrElse(0L)
    val stagingPath = Paths.get(staging)
    if (bad > 0L) {
      deleteRecursively(stagingPath)
      throw new IllegalArgumentException(
        s"requirement failed: append to $name violates year == year(date); " +
          "partition pruning would drop these rows")
    }
    val dirty =
      if (m.partitionKeys.isEmpty) Set("ALL")
      else Option(got("parts"))
        .map(_.asInstanceOf[scala.collection.Seq[String]].toSet)
        .getOrElse(Set.empty[String])
    // the marker commits the batch: everything after this line is
    // idempotently resumable by recoverStaging
    Fs.writeAtomic(stagingPath.resolve(PromoteMarker), dirty.mkString("\n"))
    promoteStaging(name, stagingPath)
  }

  private val PromoteMarker = "_graft_promote"

  /** Finish (or discard) a staging dir left by a crashed append. */
  private def recoverStaging(name: String): Unit = {
    val stagingPath = Paths.get(s"${dir(name)}/_append_tmp")
    if (Files.exists(stagingPath)) {
      if (Files.exists(stagingPath.resolve(PromoteMarker)))
        promoteStaging(name, stagingPath) // validated batch: finish the move
      else deleteRecursively(stagingPath) // unvalidated partial write
    }
  }

  /** Move every staged part file under the same relative path (part file
    * names are globally unique, so this is a pure add), merge the
    * marker's partitions into `_pending`, then drop staging.
    */
  private def promoteStaging(name: String, stagingPath: java.nio.file.Path): Unit = {
    val stream = Files.walk(stagingPath)
    try {
      stream.filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.startsWith("part-"))
        .forEach { p =>
          val target = Paths.get(dataDir(name)).resolve(stagingPath.relativize(p))
          Files.createDirectories(target.getParent)
          Files.move(p, target)
        }
    } finally stream.close()
    val dirty = Files.readString(stagingPath.resolve(PromoteMarker))
      .split("\n").toSet
    val p = Paths.get(s"${dir(name)}/_pending")
    val prev = if (Files.exists(p)) Files.readString(p).split("\n").toSet else Set.empty[String]
    Fs.writeAtomic(p, (prev ++ dirty).filter(_.nonEmpty).mkString("\n"))
    deleteRecursively(stagingPath)
  }

  /** S4: optimize = last-write-wins PK dedupe (by ingest stamp, with an
    * optional extra recency column first), rewriting only partitions that
    * saw appends since the last optimize.
    */
  def optimize(name: String, orderCol: String = SeqCol): Unit = {
    val m = meta(name)
    val pendingPath = Paths.get(s"${dir(name)}/_pending")
    if (!Files.exists(pendingPath)) return
    val pending = Files.readString(pendingPath).split("\n").filter(_.nonEmpty).toSet
    if (pending.isEmpty) return

    val full = tableRaw(name)
    val scoped =
      if (m.partitionKeys.isEmpty || pending.contains("ALL")) full
      else full.filter(partitionString(m.partitionKeys).isin(pending.toSeq: _*))
    val ordCols = if (orderCol == SeqCol) Seq(col(SeqCol).desc, col(SubCol).desc)
      else Seq(col(orderCol).desc, col(SeqCol).desc, col(SubCol).desc)
    val w = Window.partitionBy(m.primaryKeys.map(col): _*).orderBy(ordCols: _*)
    val deduped = scoped
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
      .select((m.schema.fieldNames :+ SeqCol :+ SubCol).map(col).toIndexedSeq: _*)

    // rewrite affected partitions atomically-ish: write to a temp dir then swap
    val tmp = s"${dir(name)}/_optimize_tmp"
    deduped.write.mode(SaveMode.Overwrite).partitionBy(m.partitionKeys: _*).parquet(tmp)
    if (m.partitionKeys.isEmpty || pending.contains("ALL")) {
      deleteRecursively(Paths.get(dataDir(name)))
      Files.move(Paths.get(tmp), Paths.get(dataDir(name)))
    } else {
      pending.foreach { pv =>
        val sub = m.partitionKeys.zip(pv.split("/")).map { case (k, v) => s"$k=$v" }.mkString("/")
        val target = Paths.get(s"${dataDir(name)}/$sub")
        val rewritten = Paths.get(s"$tmp/$sub")
        deleteRecursively(target)
        // no rewritten partition: every row lost the dedupe to a same-key
        // row in another partition (a key that does not determine the
        // partition), so the partition is now empty
        if (Files.exists(rewritten)) {
          Files.createDirectories(target.getParent)
          Files.move(rewritten, target)
        }
      }
      deleteRecursively(Paths.get(tmp))
    }
    Files.deleteIfExists(pendingPath)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = Fs.deleteRecursively(p)
}
