package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Read-only DataSource V2 face of [[VersionedTable]], batch and
  * streaming.
  *
  * Streaming: a micro-batch source that TAILS THE COMMIT LOG — the
  * stream offset IS the table version, and each micro-batch serves
  * exactly the files ADDED by the commits in the claimed window
  * (append-mode change feed, the public Delta/Iceberg streaming-source
  * pattern). A consumer starts at version 0, resumes from its own
  * checkpointed version, never sees a partial commit (commits are
  * atomic renames) and never rereads served data. Every trigger drains
  * all outstanding commits; `Trigger.AvailableNow` pins the head at
  * start. Discovering a batch costs one log-directory listing plus the
  * window's log files — never a data-directory listing, never a
  * snapshot scan. One input partition per served file. Overwrite
  * commits surface their ADD side; their remove side is served only
  * under `changeFeed`, or by the batch [[VersionedTable.changesBetween]].
  * A window whose data files are gone from disk fails loudly rather
  * than silently skipping history.
  *
  * Batch: `versionAsOf` time travel, zone-map file skipping from pushed
  * filters, and physical column pruning down to the parquet chunks —
  * see [[VersionedScanBuilder]].
  *
  * The source reads three options and refuses any other key, so a
  * misspelled or unsupported option fails instead of being ignored. It
  * has no write path.
  *
  * Usage:
  * {{{
  * spark.readStream.format("graft.sources.VersionedStreamProvider")
  *   .option("path", tableRoot)           // required
  *   .option("changeFeed", "true")        // CDC rows with _change_type/
  *                                        //   _commit_version columns
  *   .load()
  * spark.read.format("graft.sources.VersionedStreamProvider")
  *   .option("path", tableRoot)
  *   .option("versionAsOf", "1")          // default: head version
  *   .load()
  * }}}
  */
class VersionedStreamProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    VersionedStreamProvider.checkOptions(options.asCaseSensitiveMap.keySet.asScala)
    val base = VersionedStreamProvider.tableSchema(options.get("path"))
    // the change feed widens the row with its CDC tag column — the
    // Delta readChangeFeed shape. The name is RESERVED under the
    // option (Delta reserves its CDF columns the same way): a table
    // that already carries a column of that name would both duplicate
    // the field and let stale file values masquerade as feed tags.
    if (options.getBoolean("changeFeed", false)) {
      Seq(VersionedStreamProvider.ChangeTypeCol,
          VersionedStreamProvider.ChangeVersionCol).foreach { c =>
        require(!base.fieldNames.contains(c),
          s"table already has a '$c' column; the name is reserved by " +
            "the changeFeed option")
      }
      base.add(VersionedStreamProvider.ChangeTypeCol, StringType, nullable = false)
        .add(VersionedStreamProvider.ChangeVersionCol, LongType, nullable = false)
    } else base
  }

  // a reader may supply the schema (spark.readStream.schema(...));
  // getTable re-checks the changeFeed contract against it
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    VersionedStreamProvider.checkOptions(properties.keySet.asScala)
    val options = new CaseInsensitiveStringMap(properties)
    val path = options.get("path")
    val changeFeed = options.getBoolean("changeFeed", false)
    // Re-validate the changeFeed schema contract HERE, where the FINAL
    // schema is known: a reader supplying an explicit schema via
    // spark.readStream.schema(...) bypasses inferSchema entirely, and
    // without this check it would silently stream a feed missing its
    // tag columns — or let a user-declared `_change_type` masquerade
    // as the synthesized one.
    if (changeFeed) {
      Seq(VersionedStreamProvider.ChangeTypeCol,
          VersionedStreamProvider.ChangeVersionCol).foreach { c =>
        require(schema.fieldNames.contains(c),
          s"changeFeed schema must carry the '$c' column the feed " +
            "synthesizes; omit .schema(...) to infer it")
      }
      val t = new VersionedTable(path)
      if (t.version >= 0) {
        val base = VersionedStreamProvider.tableSchema(path)
        Seq(VersionedStreamProvider.ChangeTypeCol,
            VersionedStreamProvider.ChangeVersionCol).foreach { c =>
          require(!base.fieldNames.contains(c),
            s"table already has a '$c' column; the name is reserved by " +
              "the changeFeed option")
        }
      }
    }
    new VersionedStreamTable(path,
      Option(options.get("versionAsOf")).map(_.toLong), changeFeed, schema)
  }
}

object VersionedStreamProvider {
  /** The CDC tag column the `changeFeed` streaming option appends:
    * `insert` for rows a commit added, `delete` for rows a merge-on-read
    * delete's vector growth removed. */
  val ChangeTypeCol = "_change_type"

  /** The CDC ordering column the `changeFeed` option appends: the
    * commit version each change row belongs to — what a consumer
    * reconciling out-of-order or replayed windows keys its merge on
    * (the Delta readChangeFeed `_commit_version` shape; this table's
    * log records no wall-clock, so there is no timestamp twin). */
  val ChangeVersionCol = "_commit_version"

  /** The option keys this source reads (lower-cased). */
  private val Options = Set("path", "versionasof", "changefeed")

  /** Refuse every option key the source does not read: an option it
    * does not implement, such as a rate limit or a starting version,
    * must fail, not be silently ignored. */
  private def checkOptions(keys: Iterable[String]): Unit =
    keys.find(k => !Options(k.toLowerCase(java.util.Locale.ROOT))).foreach { k =>
      throw new IllegalArgumentException(
        s"unsupported option '$k' for graft.sources.VersionedStreamProvider " +
          "(it reads path, versionAsOf and changeFeed)")
    }

  /** Table schema: the LOG-CARRIED schema of the head version when
    * recorded (so evolved columns appear even though old files lack
    * them), else straight from one parquet FOOTER — metadata only either
    * way. The supported lattice is the engine's primitive surface (the
    * versioned table stores columnar relational data, not nested
    * documents). */
  private[sources] def tableSchema(root: String): StructType = {
    val t = new VersionedTable(root)
    val head = t.version
    require(head >= 0, s"cannot infer a schema from empty table $root")
    t.schemaAt(head).getOrElse {
      val files = t.filesAt(head)
      require(files.nonEmpty,
        s"table $root head v$head has no live files and no recorded " +
          "schema; cannot infer (only possible in pre-schema-tracking logs)")
      fromParquet(footerSchema(files.head))
    }
  }

  private[sources] def footerSchema(file: String): MessageType = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), new Configuration()))
    try r.getFooter.getFileMetaData.getSchema finally r.close()
  }

  private[sources] def fromParquet(m: MessageType): StructType = {
    import PrimitiveType.PrimitiveTypeName._
    StructType(m.getFields.asScala.map { f =>
      require(f.isPrimitive, s"nested field ${f.getName} not supported")
      val p = f.asPrimitiveType()
      val dt = p.getPrimitiveTypeName match {
        case INT64 => LongType
        case INT32 => IntegerType
        case DOUBLE => DoubleType
        case FLOAT => FloatType
        case BOOLEAN => BooleanType
        case BINARY
          if p.getLogicalTypeAnnotation ==
            LogicalTypeAnnotation.stringType() => StringType
        case BINARY => BinaryType
        case other =>
          throw new IllegalArgumentException(
            s"unsupported parquet type $other for field ${f.getName}")
      }
      StructField(f.getName, dt,
        nullable = f.getRepetition != org.apache.parquet.schema.Type.Repetition.REQUIRED)
    }.toSeq)
  }
}

private[graft] class VersionedStreamTable(root: String,
    versionAsOf: Option[Long], changeFeed: Boolean, schema0: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft_versioned($root)"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new VersionedScanBuilder(root, versionAsOf, changeFeed, schema0)
}

/** Planner-integrated pruning: column pruning reaches the parquet CHUNK
  * reads (only projected columns' pages are decoded) and comparison,
  * IN and null filters reach the commit log's zone maps and null counts
  * (files whose recorded stats cannot match are never opened). Both
  * arrive through the standard DSv2 pushdown hooks, so `.explain` shows
  * them on the scan — no out-of-band `readWhere` call needed. Filters
  * are also kept as residuals (Spark re-evaluates row-level), so
  * skipping only has to be SOUND, never complete. */
private[graft] class VersionedScanBuilder(root: String,
    versionAsOf: Option[Long], changeFeed: Boolean, schema0: StructType)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var requested: StructType = schema0
  private var skipping: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    skipping = filters.filter(VersionedScan.statsUsable)
    filters // every filter stays a residual: zone maps skip files, not rows
  }

  override def pushedFilters(): Array[Filter] = skipping

  override def pruneColumns(required: StructType): Unit = requested = required

  override def build(): Scan =
    new VersionedScan(root, versionAsOf, changeFeed, requested, skipping)
}

private[graft] class VersionedScan(root: String, versionAsOf: Option[Long],
    changeFeed: Boolean, requested: StructType, skipping: Array[Filter])
    extends Scan with Batch with SupportsReportStatistics {
  private val table = new VersionedTable(root)

  override def readSchema(): StructType = requested

  override def description(): String = {
    val v = versionAsOf.map(v => s"versionAsOf=$v").getOrElse("head")
    s"graft_versioned($root, $v, skipFilters=${skipping.mkString("[", ",", "]")})"
  }

  override def toBatch: Batch = {
    require(!changeFeed,
      "changeFeed is a STREAMING option (readStream); batch consumers " +
        "read VersionedTable.changesBetween for windowed CDC")
    this
  }

  // set when this scan serves a STREAM: estimateStatistics then
  // reports unknown — head-snapshot stats would mis-describe a
  // micro-batch (the drain replays history, not the head) and the
  // per-trigger computeStats would otherwise pay an O(live files)
  // stat sweep, the exact per-trigger table scan this source forswears
  @volatile private var streamingMode = false

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    streamingMode = true
    new VersionedMicroBatchStream(root, changeFeed, requested)
  }

  /** The candidate (file name, add line) set the pushed filters leave,
    * plus the folded state (for DV descriptors) — a LAZY SNAPSHOT
    * shared by partition planning and statistics reporting, so the two
    * resolve the SAME head version (a concurrent commit between stats
    * and planning cannot invalidate a broadcast decision) and a query
    * pays the log fold + per-line stats parse once, not per consumer. */
  private lazy val candidates: (TableState, Seq[(String, String)]) = {
    val v = versionAsOf.getOrElse(table.version)
    val st = table.stateAt(v)
    (st, VersionedScan.prune(st.adds.toSeq, skipping))
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val (st, cand) = candidates
    // Each partition carries the file's deletion vector so the reader
    // subtracts merge-on-read deletes positionally.
    cand.map { case (name, _) =>
      (st.dv.get(name) match {
        case Some(DvInline(pos)) =>
          VersionedFilePartition(table.dataDir.resolve(name).toString, pos)
        case Some(DvSidecar(sc, _)) =>
          // the sidecar is LOADED BY THE TASK (createReader), never
          // here: the plan ships a reference, not positions
          VersionedFilePartition(table.dataDir.resolve(name).toString,
            Array.emptyLongArray, Some(table.dataDir.resolve(sc).toString))
        case None =>
          VersionedFilePartition(table.dataDir.resolve(name).toString)
      }): InputPartition
    }.toArray
  }

  /** Planner-visible statistics of the PRUNED scan: on-disk bytes of
    * the candidate files (never the whole table — zone-map skipping
    * shrinks what the optimizer sees, exactly like a lake format's
    * file-level stats), and an exact row count whenever every candidate
    * add recorded its footer row count (the r14 `rows` field), minus
    * the files' deletion-vector cardinality. This is what lets Catalyst
    * AUTO-BROADCAST a selective probe over the versioned table in a
    * join — without it a DSv2 relation defaults to "infinitely large"
    * and every such join shuffles.
    *
    * BATCH ONLY: a scan serving a stream (or the change feed) reports
    * UNKNOWN — head-snapshot numbers would mis-describe a micro-batch
    * (a drain replays history; the head may be tiny after deletes),
    * tempting Catalyst to broadcast the streaming side of a
    * stream-static join, and the per-trigger computeStats would pay an
    * O(live files) stat sweep every trigger. An unstat-able candidate
    * file likewise degrades size to unknown, never to an understatement
    * the planner would broadcast on. */
  override def estimateStatistics(): Statistics = {
    if (streamingMode || changeFeed)
      return new Statistics {
        override def sizeInBytes(): util.OptionalLong = util.OptionalLong.empty()
        override def numRows(): util.OptionalLong = util.OptionalLong.empty()
      }
    val (st, cand) = candidates
    var bytes = 0L
    var bytesKnown = true
    var rows = 0L
    var rowsKnown = true
    cand.foreach { case (name, line) =>
      // recorded bytes first (the r15 field — zero file-system calls
      // when the live set carries it); Files.size only as the
      // pre-recording fallback
      VersionedTable.byteStatsOf(line) match {
        case Some(b) => bytes += b
        case None =>
          try bytes += java.nio.file.Files.size(table.dataDir.resolve(name))
          catch { case _: java.io.IOException => bytesKnown = false }
      }
      VersionedTable.nullStatsOf(line) match {
        case Some((r, _)) =>
          rows += r - st.dv.get(name).map(_.cardinality).getOrElse(0L)
        case None => rowsKnown = false
      }
    }
    val sb = if (bytesKnown) util.OptionalLong.of(bytes)
      else util.OptionalLong.empty()
    val nr = if (rowsKnown) util.OptionalLong.of(math.max(0L, rows))
      else util.OptionalLong.empty()
    new Statistics {
      override def sizeInBytes(): util.OptionalLong = sb
      override def numRows(): util.OptionalLong = nr
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new VersionedReaderFactory(requested)
}

private[graft] object VersionedScan {
  private def intBound(v: Any): Boolean =
    v.isInstanceOf[Long] || v.isInstanceOf[Int]
  private def strBound(v: Any): Boolean = v.isInstanceOf[String]
  private def num(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case other => throw new IllegalStateException(s"non-integer bound $other")
  }

  /** Filters the zone maps / null counts can act on — the gate of
    * [[VersionedScanBuilder.pushFilters]]. IN lists prune for BOTH
    * string values (recorded truncated byte bounds) and integer values
    * (recorded [min, max] intervals). */
  private[sources] def statsUsable(f: Filter): Boolean = f match {
    case EqualTo(_, v) => intBound(v) || strBound(v)
    case In(_, vs) =>
      vs.nonEmpty && (vs.forall(strBound) || vs.forall(intBound))
    case GreaterThan(_, v) => intBound(v) || strBound(v)
    case GreaterThanOrEqual(_, v) => intBound(v) || strBound(v)
    case LessThan(_, v) => intBound(v) || strBound(v)
    case LessThanOrEqual(_, v) => intBound(v) || strBound(v)
    // null probes prune on the recorded per-file null counts — and
    // Spark pushes IsNotNull alongside EVERY comparison filter, so
    // all-null files drop out of ordinary range scans for free
    case IsNull(_) => true
    case IsNotNull(_) => true
    case _ => false
  }

  /** First index in `sorted` holding a value >= x (sorted.length when
    * none) — the binary-search probe a large IN-set needs so a 10⁵-key
    * list tests each file in O(log n), not O(n). */
  private def lowerBound(sorted: Array[Long], x: Long): Int = {
    val i = java.util.Arrays.binarySearch(sorted, x)
    if (i >= 0) i else -(i + 1)
  }

  /** Apply one filter array's FILE-LEVEL probes to a candidate (file
    * name, add line) list. A file survives only if EVERY probed column
    * it has stats for can intersect its probe: integer bounds and
    * integer IN-sets test the recorded [min, max] intervals
    * (multi-column zone maps — z-ordered layouts — prune on all
    * clustered dimensions at once); string equality/IN and string
    * ranges compare unsigned-lexicographic against the recorded
    * truncated intervals; a recorded ALL-NULL column fails every value
    * probe (the bounds-less blind spot closed by the null counts); and
    * null probes prune on the recorded null counts alone. Files with
    * no stats on a probed column always survive — skipping is sound,
    * never complete; the residual row-level filter keeps results
    * exact. */
  private[sources] def prune(cand: Seq[(String, String)],
      filters: Array[Filter]): Seq[(String, String)] = {
    // per-column [lo, hi] bounds from integer comparisons — the
    // intersection of every constraint on the column
    val bs = filters.collect {
      case EqualTo(c, v) if intBound(v) => (c, num(v), num(v))
      case GreaterThan(c, v) if intBound(v) => (c, num(v) + 1, Long.MaxValue)
      case GreaterThanOrEqual(c, v) if intBound(v) => (c, num(v), Long.MaxValue)
      case LessThan(c, v) if intBound(v) => (c, Long.MinValue, num(v) - 1)
      case LessThanOrEqual(c, v) if intBound(v) => (c, Long.MinValue, num(v))
    }.foldLeft(Map.empty[String, (Long, Long)]) { case (acc, (c, lo, hi)) =>
      val (l0, h0) = acc.getOrElse(c, (Long.MinValue, Long.MaxValue))
      acc.updated(c, (math.max(l0, lo), math.min(h0, hi)))
    }
    // per-column SORTED integer IN-sets — intersected across predicates
    val ivs = filters.collect {
      case In(c, vs) if vs.nonEmpty && vs.forall(intBound) =>
        (c, vs.map(num).toSet)
    }.foldLeft(Map.empty[String, Set[Long]]) { case (acc, (c, vs)) =>
      acc.updated(c, acc.get(c).map(_ intersect vs).getOrElse(vs))
    }.map { case (c, vs) => (c, vs.toArray.sorted) }
    // per-column string candidate value sets — intersected, so
    // `c = 'a' AND c IN ('a','b')` probes only 'a'
    val svs = filters.collect {
      case EqualTo(c, v: String) => (c, Set(v))
      case In(c, vs) if vs.nonEmpty && vs.forall(strBound) =>
        (c, vs.map(_.asInstanceOf[String]).toSet)
    }.foldLeft(Map.empty[String, Set[String]]) { case (acc, (c, vs)) =>
      acc.updated(c, acc.get(c).map(_ intersect vs).getOrElse(vs))
    }.map { case (c, vs) => (c, vs.toSeq.map(_.getBytes("UTF-8"))) }
    // per-column [lo, hi] BYTE ranges from string comparisons; strict
    // and non-strict both prune with the CLOSED bound — sound, the
    // residual keeps the strict edge exact
    val srs = {
      def bytes(v: Any): Array[Byte] = v.asInstanceOf[String].getBytes("UTF-8")
      filters.collect {
        case GreaterThan(c, v: String) => (c, Some(bytes(v)), None)
        case GreaterThanOrEqual(c, v: String) => (c, Some(bytes(v)), None)
        case LessThan(c, v: String) => (c, None, Some(bytes(v)))
        case LessThanOrEqual(c, v: String) => (c, None, Some(bytes(v)))
      }.foldLeft(
        Map.empty[String, (Option[Array[Byte]], Option[Array[Byte]])]) {
        case (acc, (c, lo, hi)) =>
          val (l0, h0) = acc.getOrElse(c, (None, None))
          def tighter(a: Option[Array[Byte]], b: Option[Array[Byte]],
              keepA: (Array[Byte], Array[Byte]) => Boolean) = (a, b) match {
            case (Some(x), Some(y)) => Some(if (keepA(x, y)) x else y)
            case _ => a.orElse(b)
          }
          acc.updated(c, (
            tighter(l0, lo, (x, y) => VersionedTable.ucmp(x, y) >= 0),
            tighter(h0, hi, (x, y) => VersionedTable.ucmp(x, y) <= 0)))
      }
    }
    // (column, isNull) probes from null filters
    val nps = filters.collect {
      case IsNull(c) => (c, true)
      case IsNotNull(c) => (c, false)
    }.toSeq
    cand.filter { case (_, line) =>
      val zm = VersionedTable.longStatsOf(line).toMap
      val sm = VersionedTable.strStatsOf(line).toMap
      val ns = VersionedTable.nullStatsOf(line) // ONE parse per file
      bs.forall { case (c, (lo, hi)) =>
        zm.get(c).map { case (fLo, fHi) => fHi >= lo && fLo <= hi }
          .getOrElse(!VersionedTable.allNullIn(ns, c))
      } && ivs.forall { case (c, sorted) =>
        zm.get(c).map { case (fLo, fHi) =>
          val i = lowerBound(sorted, fLo)
          i < sorted.length && sorted(i) <= fHi
        }.getOrElse(!VersionedTable.allNullIn(ns, c))
      } && svs.forall { case (c, vals) =>
        sm.get(c).map { case (mn, mx) =>
          vals.exists(x =>
            VersionedTable.ucmp(mn, x) <= 0 && VersionedTable.ucmp(x, mx) <= 0)
        }.getOrElse(!VersionedTable.allNullIn(ns, c))
      } && srs.forall { case (c, (lo, hi)) =>
        sm.get(c).map { case (mn, mx) =>
          lo.forall(l => VersionedTable.ucmp(l, mx) <= 0) &&
            hi.forall(h => VersionedTable.ucmp(mn, h) <= 0)
        }.getOrElse(!VersionedTable.allNullIn(ns, c))
      } && nps.forall { case (c, isNull) =>
        VersionedTable.nullCandidateIn(ns, c, isNull)
      }
    }
  }
}

/** Offset = highest table version already served. */
private[graft] case class VersionOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

/** Append-only log tail — serves each commit's ADDED files.
  *
  * Delete visibility contract (default): MERGE-ON-READ DELETES ARE
  * INVISIBLE to this feed. A `delete_mor` commit adds no files (its
  * `dvset` actions carry positions), so the window it lands in serves
  * nothing, and a historical window replays its files WITHOUT
  * subtracting vectors a LATER delete committed — consistent with
  * per-commit add semantics (the rows genuinely were live when their
  * commit landed), same as Delta's streaming source without
  * `readChangeFeed`.
  *
  * The opt-in `changeFeed` option (the Delta readChangeFeed shape)
  * changes that: every row carries a `_change_type` column and each
  * commit streams its FULL file-CDC window — added files as `insert`
  * rows, REMOVED files as `delete` rows (read minus their prior
  * deletion vector, so copy-on-write deletes/overwrites/merges/
  * restores reach the feed; a rewrite emits its carried rows as both
  * delete and insert, the same contract
  * [[VersionedTable.changesBetween]] documents), and a `dvset`
  * commit's vector GROWTH as positional `delete` rows — so log-tailing
  * consumers (index invalidation, downstream GDPR propagation) observe
  * every delete flavor without a side batch query. The grown-position
  * diff is computed BY THE TASK from the two sidecar references the
  * partition carries — positions never ride the plan. Two deliberate
  * exceptions: MAINTENANCE commits (compact/zorder) are logical no-ops
  * and serve nothing (Delta's dataChange=false discipline), and
  * restore-style vector SHRINKS serve nothing (changesBetween emits
  * restore re-inserts; the streaming feed is delete-observing). */
private[graft] class VersionedMicroBatchStream(root: String,
    changeFeed: Boolean, schema: StructType)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  private[graft] val table = new VersionedTable(root)

  // AvailableNow contract: pin the head at prepare time so the run
  // drains exactly the commits that existed when it started, then
  // terminates — commits racing in after prepare wait for the next run.
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(table.version)

  override def initialOffset(): Offset = VersionOffset(-1L)

  // One log listing per trigger; a new commit is a new offset. Serving
  // lags the head by zero — the atomic rename IS publication.
  override def latestOffset(): Offset = {
    val head = table.version
    VersionOffset(availableNowCap.fold(head)(math.min(head, _)))
  }

  // the form the engine calls (an AvailableNow source is an
  // admission-control source); every trigger admits up to the head
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    latestOffset()

  override def deserializeOffset(json: String): Offset = VersionOffset(json.toLong)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  /** The change-feed fold CARRIED ACROSS TRIGGERS: the table state
    * advanced to the version the last window ended at, reused as the
    * next window's seed whenever the offsets line up (the steady-state
    * CDC tail), so a long-running drain folds each commit EXACTLY ONCE
    * per stream lifetime — O(window) log reads per trigger instead of
    * re-seeding from a checkpoint + tail every trigger. A retried or
    * out-of-order window (offsets that don't extend the carried state)
    * just re-seeds from the log, correct either way. */
  private var carriedFold: Option[(Long, TableState)] = None

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[VersionOffset].v
    val e = end.asInstanceOf[VersionOffset].v
    if (!changeFeed)
      ((s + 1) to e).flatMap(table.filesAddedAt)
        .map(f => VersionedFilePartition(f): InputPartition).toArray
    else {
      // ONE incremental fold for the whole drain window — seeded from
      // the carried state when this window extends the last one — then
      // three partition kinds per commit (see changeWindowsBetween)
      val windows = synchronized {
        val seed = carriedFold match {
          case Some((v, st)) if v == s => st
          case _ => table.stateAtOrEmpty(s)
        }
        val ws = table.changeWindowsFrom(seed, s, e)
        carriedFold = Some((e, seed)) // seed was MUTATED forward to e
        ws
      }
      windows.flatMap { w =>
        def sidecar(ref: String): Option[String] =
          Some(ref).filter(_.nonEmpty)
            .map(r => table.dataDir.resolve(r).toString)
        val inserts = w.added.map(f =>
          VersionedFilePartition(f, feedTag = Some("insert"),
            feedVersion = w.version): InputPartition)
        // a removed file's rows AS VISIBLE before this commit: the
        // plain exclude-mode read minus its PRIOR vector, tagged delete
        val removals = w.removed.map { case (f, (pRef, pInline)) =>
          VersionedFilePartition(f, deleted = pInline, dvRef = sidecar(pRef),
            feedTag = Some("delete"), feedVersion = w.version): InputPartition
        }
        // one partition per dvset file: the task loads BOTH descriptors
        // (sidecars by reference) and serves exactly new − prior — the
        // rows THIS commit deleted
        val grown = w.grown.map { case (f, newD, priorD) =>
          val (nRef, nInline) = table.descForm(Some(newD))
          val (pRef, pInline) = table.descForm(priorD)
          VersionedFilePartition(f,
            deleted = nInline, dvRef = sidecar(nRef),
            feedTag = Some("delete"), grownOnly = true,
            priorDeleted = pInline,
            priorDvRef = sidecar(pRef), feedVersion = w.version): InputPartition
        }
        inserts ++ removals ++ grown
      }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new VersionedReaderFactory(schema)
}

/** One committed parquet file, plus its deletion vector — inline
  * positions for legacy (r12) vectors, or a sidecar path the TASK
  * loads ([[VersionedReaderFactory.createReader]]), so bulk vectors
  * never ride the serialized plan. Empty for the default streaming
  * feed, which is append-only by contract.
  *
  * Change-feed fields: `feedTag` stamps every emitted row's
  * `_change_type`; `grownOnly` flips the reader from EXCLUDE mode
  * (serve all rows minus the vector) to INCLUDE mode (serve exactly
  * the positions in `deleted`/`dvRef` MINUS `priorDeleted`/`priorDvRef`
  * — the rows one commit's vector growth deleted), with the set diff
  * computed task-side from the two references. */
private[graft] case class VersionedFilePartition(file: String,
    deleted: Array[Long] = Array.emptyLongArray,
    dvRef: Option[String] = None,
    feedTag: Option[String] = None,
    grownOnly: Boolean = false,
    priorDeleted: Array[Long] = Array.emptyLongArray,
    priorDvRef: Option[String] = None,
    feedVersion: Long = -1L) extends InputPartition

/** Reads one committed parquet file into InternalRows via the public
  * parquet-mr record API. Column pruning is physical: the projected
  * subset is handed to `setRequestedSchema`, so only those columns'
  * chunks are read and decoded; an EMPTY projection (count(*)) reads no
  * data pages at all and emits the footer's row count (minus the
  * deletion vector's). Deletion-vector positions are skipped by a
  * running row index against the sorted DV — O(1) per row, no lookup
  * structure. */
private[graft] class VersionedReaderFactory(requested: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val part = partition.asInstanceOf[VersionedFilePartition]
    val file = part.file
    // sidecar vectors load HERE, on the executor, once per task
    val deleted = part.dvRef
      .map(r => VersionedTable.readDvSidecar(java.nio.file.Paths.get(r)))
      .getOrElse(part.deleted)
    // change-feed INCLUDE mode: the rows one commit's vector growth
    // deleted = new vector − prior vector, diffed here on the task
    val include: Array[Long] =
      if (!part.grownOnly) null
      else {
        val prior = part.priorDvRef
          .map(r => VersionedTable.readDvSidecar(java.nio.file.Paths.get(r)))
          .getOrElse(part.priorDeleted)
        VersionedTable.diffSorted(deleted, prior)
      }
    val tagU: UTF8String = part.feedTag.map(UTF8String.fromString).orNull
    new PartitionReader[InternalRow] {
      private val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), new Configuration()))
      private val fileSchema = reader.getFooter.getFileMetaData.getSchema
      // projection in FILE order (parquet contract), then a positional
      // map back to the REQUESTED order for the output row
      private val wanted = requested.fieldNames.toSet
      private val projected = new MessageType(fileSchema.getName,
        fileSchema.getFields.asScala.filter(f => wanted(f.getName)).asJava)
      private val outPos: Array[Int] = requested.fieldNames
        .map(n => projected.getFields.asScala.indexWhere(_.getName == n))
      reader.setRequestedSchema(projected)
      private val columnIO = new ColumnIOFactory().getColumnIO(projected)
      private var groupReader: org.apache.parquet.io.RecordReader[Group] = _
      private var rowsLeft: Long = 0L
      private var current: Group = _
      // footer-count path: no columns requested (count(*), or only the
      // change-feed tag), or the file predates every requested column —
      // no data pages to read either way; DV'd rows never count, and an
      // INCLUDE-mode partition counts exactly its grown positions
      private val noChunks = projected.getFieldCount == 0
      private var emptyRowsLeft: Long =
        if (!noChunks) 0L
        else if (include != null) include.length.toLong
        else reader.getRecordCount - deleted.length
      // running absolute row position in the file (the _metadata.row_index
      // coordinate the deletion vector is recorded in) and cursors into
      // the sorted DV (exclude mode) / grown set (include mode)
      private var rowIdx: Long = -1L
      private var delPtr: Int = 0
      private var incPtr: Int = 0
      // include mode: per-row-group row counts from the footer, so the
      // reader SKIPS whole groups containing no wanted position — a
      // needle-delete window over a large file costs the grown rows'
      // groups, not a full-file decode
      private val blockRows: Array[Long] =
        if (include == null) null
        else reader.getFooter.getBlocks.asScala.map(_.getRowCount.toLong).toArray
      private var blockIdx: Int = 0

      private def advanceRowGroup(): Boolean = {
        val pages = reader.readNextRowGroup()
        if (pages == null) false
        else {
          groupReader = columnIO.getRecordReader(
            pages, new GroupRecordConverter(projected))
          rowsLeft = pages.getRowCount
          true
        }
      }

      override def next(): Boolean = {
        if (noChunks) {
          if (emptyRowsLeft == 0L) return false
          emptyRowsLeft -= 1
          return true
        }
        if (include != null) {
          // INCLUDE mode: emit exactly the grown positions, in order;
          // once the set is exhausted the task is done — no tail scan
          if (incPtr >= include.length) return false
          while (true) {
            while (rowsLeft == 0L) {
              // the next group spans [rowIdx+1, rowIdx+rows]: skip it
              // outright when the next wanted position lies beyond it
              while (blockIdx < blockRows.length &&
                  include(incPtr) > rowIdx + blockRows(blockIdx)) {
                reader.skipNextRowGroup()
                rowIdx += blockRows(blockIdx)
                blockIdx += 1
              }
              if (!advanceRowGroup()) return false
              blockIdx += 1
            }
            current = groupReader.read()
            rowsLeft -= 1
            rowIdx += 1
            if (rowIdx == include(incPtr)) { incPtr += 1; return true }
          }
        }
        while (true) {
          while (rowsLeft == 0L) if (!advanceRowGroup()) return false
          current = groupReader.read()
          rowsLeft -= 1
          rowIdx += 1
          while (delPtr < deleted.length && deleted(delPtr) < rowIdx) delPtr += 1
          if (delPtr >= deleted.length || deleted(delPtr) != rowIdx) return true
          // position is deletion-vectored: skip and read on
        }
        false // unreachable
      }

      // the change-feed tag and commit version are synthesized per
      // partition, never read from the file — they fill the requested
      // `_change_type`/`_commit_version` slots in both the data and
      // the footer-count paths
      private def synthesized(i: Int): Any =
        if (tagU == null) null
        else if (requested(i).name == VersionedStreamProvider.ChangeTypeCol) tagU
        else if (requested(i).name == VersionedStreamProvider.ChangeVersionCol)
          java.lang.Long.valueOf(part.feedVersion)
        else null

      override def get(): InternalRow = {
        if (noChunks) {
          val vals = new Array[Any](requested.length)
          var i = 0
          while (i < requested.length) { vals(i) = synthesized(i); i += 1 }
          return new GenericInternalRow(vals)
        }
        val vals = new Array[Any](requested.length)
        var i = 0
        while (i < requested.length) {
          val p = outPos(i)
          vals(i) =
            // p < 0: the column was born after this file was written —
            // or is the synthesized change-feed tag
            if (p < 0) synthesized(i)
            else if (current.getFieldRepetitionCount(p) == 0) null
            else requested(i).dataType match {
              case LongType => current.getLong(p, 0)
              case IntegerType => current.getInteger(p, 0)
              case DoubleType => current.getDouble(p, 0)
              case FloatType => current.getFloat(p, 0)
              case BooleanType => current.getBoolean(p, 0)
              case StringType =>
                UTF8String.fromBytes(current.getBinary(p, 0).getBytes)
              case BinaryType => current.getBinary(p, 0).getBytes
              case other =>
                throw new IllegalStateException(s"unsupported type $other")
            }
          i += 1
        }
        new GenericInternalRow(vals)
      }

      override def close(): Unit = reader.close()
    }
  }
}
