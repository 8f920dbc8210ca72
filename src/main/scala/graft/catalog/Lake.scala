package graft.catalog

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
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
  *   - `replace`: a whole table written once, as `create(replace)` then
  *     one deduped `append` (a backfill)
  *
  * Scale notes: appends land as new Parquet files inside `year=` partition
  * directories (no read-modify-write); `optimize` rewrites at most the
  * partitions that received appends since the last optimize (tracked in
  * the `_pending` ledger), using `row_number` over the PK — the standard
  * compact-and-dedupe pattern. Readers prune partitions through the
  * `partitionBy` layout, and predicate pushdown reaches the Parquet scan.
  *
  * Collision gate: an upsert that only adds new keys rewrites nothing.
  * `append` decides on its one write job (observed aggregates, no extra
  * job) whether its batch is collision-free, i.e. can change no row's
  * dedupe:
  *   - its primary keys are distinct, checked exactly by an observed
  *     aggregate that keeps at most [[KeyCap]] keys (a larger batch, or
  *     one whose rows are skewed past one write task's share of the cap,
  *     is not collision-free; a task past its share sends the driver a
  *     flag, not its keys), and
  *   - some date, timestamp or integral primary-key column has no null in
  *     the batch and a batch minimum above the table's recorded maximum
  *     of that column, so no batch key equals a stored one.
  * The recorded maxima live in the `_graft_bounds` sidecar, one line per
  * gate column. It is table-wide, not per partition, so the verdict holds
  * when a key does not determine its partition. `create` writes it empty
  * (no stored row); `append` only ever raises it, and writes it before
  * the batch's `_graft_promote` marker, so it may read too high (a batch
  * that crashed before its marker) but never too low. A table without
  * the sidecar (written before it existed) never has a collision-free
  * batch. The verdict rides in the marker into `_pending`: a ledger line
  * is the partition's entry, followed by a tab and `free` when every
  * batch it took since the last optimize was collision-free.
  *
  * `optimize` then rewrites every pending partition when any of them took
  * a batch that was not collision-free: a colliding row may sit in any
  * pending partition when the key does not determine the partition, and
  * the dedupe scope stays the one it always was. When every pending
  * partition is collision-free, their deduped contents are already what
  * they hold, so it rewrites only, as a bin-pack, those whose part-file
  * count has passed [[MaxPartFiles]] — and with none of those it clears
  * the ledger without queuing a rewrite or starting a Spark job. Anything
  * the gate does not know (no sidecar, a ledger line without a verdict,
  * a key type whose stored values it cannot compare exactly) falls
  * back to the rewrite. The one state in which skipping differs from rewriting is a
  * table that already holds one key in two partitions (a key that does
  * not determine its partition, upserted by two separate optimizes): a
  * rewrite of both pending partitions would merge them, a skip leaves
  * them until a colliding batch reaches either.
  *
  * Crash model: an append commits at its marker (see [[append]]); a
  * crash after it rolls forward with the marker's verdict, and a crash
  * before it discards the batch and at worst leaves the sidecar raised.
  * An optimize that skips only deletes the ledger, so a crash leaves the
  * ledger or none; a failed rewrite keeps the ledger, so the next
  * `optimize` retries it. A `replace` that crashes between its append's
  * marker and dropping the ledger leaves the ledger, and the next
  * `optimize` clears it or rewrites the same rows. A frame from `table` reads the files listed when it
  * was made; run it before the next `optimize` of that table.
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
    Fs.writeAtomic(boundsPath(meta.name), "") // no stored row: no bound yet
    // empty frame with declared schema so reads of a fresh table work
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], meta.schema)
      .withColumn(SeqCol, lit(0L)).withColumn(SubCol, lit(0L))
      .write.mode(SaveMode.Append)
      .partitionBy(meta.partitionKeys: _*).parquet(dataDir(meta.name))
  }

  /** S2 then S3 for a whole table: `create(meta, "replace")`, then one
    * [[append]] of `df` deduped by primary key, the later batch row winning
    * (the order a rewrite gets from the ingest sub-stamp). The table then
    * holds what an `optimize` would leave, so the ledger is dropped, and
    * the sidecar holds the batch's maxima: a backfilled table is written
    * once, and its first upsert is gated like any other. The deduped
    * rows are rebalanced by the partition columns, so a partition that
    * fits the advisory size gets one part file.
    */
  def replace(meta: TableMeta, df: DataFrame): Unit = {
    create(meta, "replace")
    val deduped = dedupe(meta, df.withColumn(SubCol, monotonically_increasing_id()),
      Seq(col(SubCol).desc))
    append(meta.name,
      if (meta.partitionKeys.isEmpty) deduped
      else deduped.hint("rebalance", meta.partitionKeys.map(col): _*))
    Files.deleteIfExists(pendingPath(meta.name))
  }

  /** Keeps, of each primary key's rows, the one that sorts first under
    * `order`.
    */
  private def dedupe(m: TableMeta, df: DataFrame, order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(m.primaryKeys.map(col): _*).orderBy(order: _*)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
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

  /** `_pending` ledger entry of a partition directory Spark wrote (a path
    * relative to the data dir, `k1=v1/k2=v2`): its values as they appear
    * in the directory names, joined by `/`. Spark escapes every `/`, `=`
    * and control character in a value
    * ([[ExternalCatalogUtils.escapePathName]]) and spells a null one
    * `__HIVE_DEFAULT_PARTITION__`, so an entry names exactly one directory
    * and holds no newline.
    */
  private def ledgerEntry(partitionDir: java.nio.file.Path): String =
    partitionDir.iterator.asScala.map { seg =>
      val s = seg.toString
      s.substring(s.indexOf('=') + 1)
    }.mkString("/")

  /** The partition directory a ledger entry names. */
  private def partitionDir(keys: Seq[String], entry: String): String =
    keys.zip(entry.split("/")).map { case (k, v) =>
      ExternalCatalogUtils.escapePathName(k) + "=" + v
    }.mkString("/")

  /** Rows of the partitions a ledger names: each value read back the way
    * Spark parses a partition directory (unescaped, cast to the column's
    * type; the default partition is null).
    */
  private def inPartitions(m: TableMeta, entries: Set[String]): Column =
    entries.toSeq.map { e =>
      m.partitionKeys.zip(e.split("/")).map { case (k, v) =>
        if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) col(k).isNull
        else col(k) === lit(ExternalCatalogUtils.unescapePathName(v)).cast(m.schema(k).dataType)
      }.reduce(_ && _)
    }.reduce(_ || _)

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
  def table(name: String): DataFrame = {
    tableRaw(name).select(meta(name).schema.fieldNames.map(col).toIndexedSeq: _*)
  }

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
    * violation count and the collision gate's aggregates (row count,
    * bounded key distinctness, per gate column min, max and null count;
    * see the class doc) —
    * then the files are promoted into the data directory only if the
    * invariant holds. The dirty partitions are the directories the write
    * made in staging ([[ledgerEntry]]). The earlier form ran the
    * input three times (guard count, write, dirty-partition distinct),
    * which triples an expensive upstream frame; staging also means a
    * violating or crashed append never leaves partial files in the table.
    *
    * Crash model: the sidecar is raised to the batch's maxima first; part
    * files are promoted only after a `_graft_promote` marker (holding the
    * batch's dirty-partition strings with its verdict) lands in staging,
    * so the next append can tell a validated half-promoted batch (marker
    * present → finish the move and merge the marker's lines into
    * `_pending`) from an unvalidated partial write (no marker → discard).
    * Promotion is resumable because part file names are globally unique:
    * files already moved are simply absent from staging.
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
    val gate = gateColumns(m)
    val staging = s"${dir(name)}/_append_tmp"
    deleteRecursively(Paths.get(staging))
    aligned.observe(obs, badMetric, gateMetrics(m, gate): _*)
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
      else partFiles(stagingPath).flatMap(p => Option(p.getParent)).map(ledgerEntry).toSet
    val bound = bounds(name)
    val free = bound.exists(collisionFree(gate, got, _))
    bound.foreach(b => raiseBounds(name, gate, got, b))
    // the marker commits the batch: everything after this line is
    // idempotently resumable by recoverStaging
    Fs.writeAtomic(stagingPath.resolve(PromoteMarker),
      ledgerText(dirty.map(_ -> free).toMap))
    promoteStaging(name, stagingPath)
  }

  private val PromoteMarker = "_graft_promote"

  import Lake.{KeyCap, MaxPartFiles}

  private def boundsPath(name: String) = Paths.get(s"${dir(name)}/_graft_bounds")

  /** The sidecar: each gate column's recorded maximum (a column with no
    * line has no stored non-null value). None when the file is missing,
    * so no batch is collision-free.
    */
  private def bounds(name: String): Option[Map[String, Long]] =
    scala.util.Try(Files.readAllLines(boundsPath(name)).asScala.filter(_.nonEmpty).map { l =>
      val t = l.lastIndexOf('\t')
      l.substring(0, t) -> l.substring(t + 1).toLong
    }.toMap).toOption

  /** Raises the sidecar to the batch's maxima (it never goes down). */
  private def raiseBounds(name: String, gate: Seq[String], got: Map[String, Any],
      old: Map[String, Long]): Unit = {
    val raised = old ++ gate.indices.flatMap { i =>
      Option(got(s"_hi$i")).map(h =>
        gate(i) -> math.max(h.asInstanceOf[Long], old.getOrElse(gate(i), Long.MinValue)))
    }
    if (raised != old)
      Fs.writeAtomic(boundsPath(name), raised.map { case (c, v) => s"$c\t$v" }.mkString("\n"))
  }

  /** The primary-key columns the gate can bound: date, timestamp and
    * integral ones. None when the batch's key bytes may disagree with the
    * stored keys' dedupe grouping, so the distinct check would not be
    * exact and no batch is collision-free:
    *   - a key column of another type (floating point's -0.0 and 0.0,
    *     collated strings, nested types);
    *   - a key column that is also a partition column and whose directory
    *     name may not read back as the value written: a string one (Spark
    *     writes "" and null both to the default partition, which reads
    *     back null) or a timestamp one (the name is a local time, which a
    *     daylight-saving change repeats).
    */
  private def gateColumns(m: TableMeta): Seq[String] = {
    import org.apache.spark.sql.types._
    def exact(k: String) = m.schema(k).dataType match {
      case StringType | TimestampType => !m.partitionKeys.contains(k)
      case BooleanType | DateType | ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (!m.primaryKeys.forall(exact)) Nil
    else m.primaryKeys.filter(k => gateValue(k, m.schema(k).dataType).isDefined)
  }

  /** A gate column's value as a BIGINT with the column's order. */
  private def gateValue(c: String, t: org.apache.spark.sql.types.DataType): Option[Column] = {
    import org.apache.spark.sql.types._
    t match {
      case DateType => Some(unix_date(col(c)).cast(LongType))
      case TimestampType => Some(unix_micros(col(c)))
      case ByteType | ShortType | IntegerType | LongType => Some(col(c).cast(LongType))
      case _ => None
    }
  }

  /** The gate's observed aggregates: row count, whether the batch's keys
    * are distinct within [[KeyCap]] rows (its task results carry at most
    * KeyCap keys plus one per task, see [[graft.expr.catalyst.DistinctKeysAgg]]),
    * and per gate column its min, max and null count.
    */
  private def gateMetrics(m: TableMeta, gate: Seq[String]): Seq[Column] =
    if (gate.isEmpty) Nil
    else {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      import org.apache.spark.sql.catalyst.expressions.CreateStruct
      val keys = graft.expr.catalyst.DistinctKeysAgg(
        CreateStruct(m.primaryKeys.map(UnresolvedAttribute.quoted)), KeyCap)
      Seq(count(lit(1)).as("_n"), org.apache.spark.sql.graftconf.ExpressionColumn(
        keys.toAggregateExpression()).as("_distinct")) ++
        gate.zipWithIndex.flatMap { case (c, i) =>
          val v = gateValue(c, m.schema(c).dataType).get
          Seq(min(v).as(s"_lo$i"), max(v).as(s"_hi$i"),
            sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"_nul$i"))
        }
    }

  /** The gate's verdict on a batch from its observed aggregates `got` and
    * the sidecar `bound` (see the class doc).
    */
  private def collisionFree(gate: Seq[String], got: Map[String, Any],
      bound: Map[String, Long]): Boolean = gate.nonEmpty && {
    got("_n") == 0L || got("_distinct") == true && gate.indices.exists { i =>
      got(s"_nul$i") == 0L &&
        bound.get(gate(i)).forall(got(s"_lo$i").asInstanceOf[Long] > _)
    }
  }

  private def pendingPath(name: String) = Paths.get(s"${dir(name)}/_pending")

  /** `_pending` (or marker) lines, merged per partition entry: true when
    * every batch the partition took was collision-free. A line without
    * the [[FreeTag]] (a batch that was not, or a line written before the
    * gate existed) makes its partition false.
    */
  private def mergeLedger(lines: Seq[String]): Map[String, Boolean] =
    lines.filter(_.nonEmpty)
      .groupMapReduce(_.stripSuffix(FreeTag))(_.endsWith(FreeTag))(_ && _)

  private def ledgerText(ledger: Map[String, Boolean]): String =
    ledger.map { case (e, free) => if (free) e + FreeTag else e }.mkString("\n")

  /** Follows a collision-free partition's entry; an entry holds no tab
    * (Spark escapes control characters in partition directory names).
    */
  private val FreeTag = "\tfree"

  private def ledgerLines(name: String): Seq[String] = {
    val p = pendingPath(name)
    if (Files.exists(p)) Files.readString(p).split("\n").toSeq else Nil
  }

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
    * marker's lines into `_pending`, then drop staging.
    */
  private def promoteStaging(name: String, stagingPath: java.nio.file.Path): Unit = {
    partFiles(stagingPath).foreach { rel =>
      val target = Paths.get(dataDir(name)).resolve(rel)
      Files.createDirectories(target.getParent)
      Files.move(stagingPath.resolve(rel), target)
    }
    val batch = Files.readString(stagingPath.resolve(PromoteMarker)).split("\n").toSeq
    Fs.writeAtomic(pendingPath(name), ledgerText(mergeLedger(ledgerLines(name) ++ batch)))
    deleteRecursively(stagingPath)
  }

  /** Part files under `base`, relative to it. */
  private def partFiles(base: java.nio.file.Path): List[java.nio.file.Path] = {
    val stream = Files.walk(base)
    try stream.iterator.asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.startsWith("part-")).map(base.relativize).toList
    finally stream.close()
  }

  /** Part files directly in the partition directory a ledger entry names
    * (the data dir itself for `ALL`).
    */
  private def partFileCount(m: TableMeta, entry: String): Int = {
    val d = if (entry == "ALL") Paths.get(dataDir(m.name))
      else Paths.get(dataDir(m.name), partitionDir(m.partitionKeys, entry))
    if (!Files.isDirectory(d)) 0
    else {
      val s = Files.list(d)
      try s.iterator.asScala.count(f => Files.isRegularFile(f) &&
          f.getFileName.toString.startsWith("part-"))
      finally s.close()
    }
  }

  /** S4: optimize = last-write-wins PK dedupe (by ingest stamp, with an
    * optional extra recency column first) over the partitions that saw
    * appends since the last optimize, gated by their batches' verdicts:
    *   - any pending partition took a batch that was not collision-free:
    *     rewrite every pending partition;
    *   - otherwise: rewrite (bin-pack) only the pending partitions holding
    *     more than [[MaxPartFiles]] part files; with none, clear the ledger
    *     with no rewrite and no Spark job.
    */
  def optimize(name: String, orderCol: String = SeqCol): Unit = {
    val ledger = mergeLedger(ledgerLines(name))
    val targets =
      if (ledger.values.exists(free => !free)) ledger.keySet
      else {
        val m = meta(name)
        ledger.keySet.filter(e => partFileCount(m, e) > MaxPartFiles)
      }
    if (targets.isEmpty) Files.deleteIfExists(pendingPath(name))
    else rewrite(name, orderCol, targets)
  }

  /** The rewrite of [[optimize]]: dedupes the rows of the `targets`
    * partitions among themselves, swaps them in and clears the ledger.
    */
  private def rewrite(name: String, orderCol: String, targets: Set[String]): Unit = {
    val m = meta(name)
    val whole = m.partitionKeys.isEmpty || targets.contains("ALL")
    val full = tableRaw(name)
    val scoped = if (whole) full else full.filter(inPartitions(m, targets))
    val ordCols = if (orderCol == SeqCol) Seq(col(SeqCol).desc, col(SubCol).desc)
      else Seq(col(orderCol).desc, col(SeqCol).desc, col(SubCol).desc)
    val deduped = dedupe(m, scoped, ordCols)
      .select((m.schema.fieldNames :+ SeqCol :+ SubCol).map(col).toIndexedSeq: _*)

    // rewrite affected partitions atomically-ish: write to a temp dir then swap
    val tmp = s"${dir(name)}/_optimize_tmp"
    deduped.write.mode(SaveMode.Overwrite).partitionBy(m.partitionKeys: _*).parquet(tmp)
    if (whole) {
      deleteRecursively(Paths.get(dataDir(name)))
      Files.move(Paths.get(tmp), Paths.get(dataDir(name)))
    } else {
      targets.foreach { pv =>
        val sub = partitionDir(m.partitionKeys, pv)
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
    Files.deleteIfExists(pendingPath(name))
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = Fs.deleteRecursively(p)
}

private[graft] object Lake {

  /** Rows a batch may hold and still be collision-free: the distinct
    * check keeps at most this many keys (plus one per write task) and
    * sends no more to the driver.
    */
  val KeyCap = 4096

  /** Part files a collision-free pending partition may hold before
    * `optimize` bin-packs it anyway. It bounds file build-up, not step
    * time: over 30 nightly steps on a 4-core host, bounds of 8, 16 and
    * 32 and no bin-pack at all gave the same step times within
    * run-to-run noise (with no bin-pack a partition reached 117 files),
    * and a step that bin-packed took no longer than one that did not.
    * With 16, some table was bin-packed on 11 of 29 steps (8: 21, 32: 6).
    */
  val MaxPartFiles = 16
}
