package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** A file's live deletion vector as the LOG records it — a descriptor,
  * never the positions themselves. Two forms:
  *   - [[DvInline]]: positions packed in the `dvset` action line (the
  *     r12 log format, still read; also what checkpoints/restores carry
  *     for legacy vectors). Bounded small by the old write path's cap.
  *   - [[DvSidecar]]: a reference to a range-run-encoded bitmap file
  *     under `data/` written BY THE EXECUTORS (the Delta/Iceberg DV
  *     sidecar shape) — the log line stays O(1) per file however many
  *     positions the delete matched, and positions never transit the
  *     driver on the write path. Read task-side by every consumer.
  */
private[sources] sealed trait DvDesc { def cardinality: Long }
private[sources] final case class DvInline(pos: Array[Long]) extends DvDesc {
  def cardinality: Long = pos.length.toLong
  override def equals(o: Any): Boolean = o match {
    case DvInline(p) => java.util.Arrays.equals(pos, p)
    case _ => false
  }
  override def hashCode: Int = java.util.Arrays.hashCode(pos)
}
private[sources] final case class DvSidecar(name: String,
    cardinality: Long) extends DvDesc

/** One commit's contribution to the STREAMING change feed
  * ([[VersionedTable.changeWindowsFrom]]): the commit version (the
  * feed's `_commit_version` ordering column), file paths the commit
  * added (insert rows), files it removed with their PRIOR deletion
  * vector in task-shippable descForm (delete rows = the file minus
  * that vector), and dvset actions as (path, new descriptor, prior
  * descriptor) whose task-side diff is the grown — deleted — rows. */
private[sources] final case class ChangeWindow(version: Long, op: String,
    added: Seq[String],
    removed: Seq[(String, (String, Array[Long]))],
    grown: Seq[(String, DvDesc, Option[DvDesc])])

/** The folded table state at one version: the governing add action per
  * live file (zone maps ride along verbatim), the live deletion-vector
  * DESCRIPTOR per file (inline positions or a sidecar reference), and
  * the newest recorded schema. This is exactly what a log checkpoint
  * serializes and what every snapshot read folds. */
private[sources] final class TableState {
  val adds = scala.collection.mutable.LinkedHashMap.empty[String, String]
  val dv = scala.collection.mutable.LinkedHashMap.empty[String, DvDesc]
  var schemaB64: Option[String] = None
}

/** Snapshot-isolated versioned parquet table — the transactional-lake
  * discipline (the public Delta/Iceberg commit-log pattern) in its
  * minimal engine form. The reference overwrites its JSON snapshot in
  * place (dashboard/app.py reads whatever half-state exists); a 100-TB
  * corpus store instead needs: readers that NEVER see a partial write,
  * concurrent writers that cannot corrupt each other, and the ability to
  * pin any historical snapshot (the corpus-freeze requirement:
  * "train run X read table version N", reproducible forever).
  *
  * Mechanics, all file-system-atomic:
  *   - Data files land in `data/` under content-unique names; an
  *     unreferenced data file is invisible, so staging costs nothing.
  *   - A commit is ONE atomic rename into `_log/`: version v is file
  *     `_log/%012d.json`, whose lines are add/remove/dvset actions. The
  *     rename fails if the version exists — optimistic concurrency; the
  *     loser re-reads the head and retries on top (append never conflicts
  *     semantically; overwrite rebases its remove set).
  *   - A snapshot is the fold of actions over the log — and since a fold
  *     over 10⁵ streaming-epoch commits would make EVERY read pay
  *     O(versions) metadata I/O, every `checkpointInterval`-th commit
  *     also writes `_log/%012d.checkpoint`: the folded [[TableState]] to
  *     that version, serialized as the SAME action lines (adds and
  *     deletion vectors verbatim, so zone maps and MoR deletes survive
  *     by reference). A read then folds latest-checkpoint-≤-v plus the
  *     tail — O(interval) log files at any table age, the Delta
  *     checkpoint contract. Checkpoints are derived, best-effort, and
  *     race-safe (same atomic-rename discipline; a missing one only
  *     means a longer fold). Logs written before checkpointing existed
  *     (no `.checkpoint` files at all) fold from version 0 unchanged —
  *     the `fmt` field in the checkpoint header versions the format
  *     itself.
  *   - Nothing is ever rewritten in place; every old version stays
  *     readable.
  *
  * This composes with the rest of the engine: the incremental dedup/
  * admission jobs (`q_incremental_dedup`/`_neardup`) read "history" —
  * here that history gets a pinned version; `q_corpus_freeze` produces
  * a snapshot — here the snapshot gets a commit. `q_time_travel` is the
  * oracle-checked registry face of this class.
  */
class VersionedTable(val root: String, val checkpointInterval: Int = 10) {
  import VersionedTable._

  private def logDir: Path = Paths.get(root, "_log")
  private[sources] def dataDir: Path = Paths.get(root, "data")

  private def listDir(p: Path): List[Path] =
    if (!Files.isDirectory(p)) Nil
    else {
      val s = Files.list(p)
      try s.iterator().asScala.toList finally s.close()
    }

  /** Depth-first recursive delete of a staging dir: `df.write.parquet`
    * can leave a NESTED `_temporary/...` tree inside its `_tmp-*` dir,
    * on which a single-level delete would throw
    * DirectoryNotEmptyException. Idempotent. */
  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  private def logName(v: Long): String = f"$v%012d.json"
  private def checkpointName(v: Long): String = f"$v%012d.checkpoint"

  /** Log + checkpoint files read by this instance — the observable for
    * the O(interval)-reads-per-snapshot guarantee (asserted in spec). */
  private[graft] val logFileReads = new AtomicLong(0L)

  private def readLog(p: Path): Seq[String] = {
    logFileReads.incrementAndGet()
    Files.readAllLines(p).asScala.toSeq
  }

  /** Latest committed version, -1 for an empty table. */
  def version: Long =
    listDir(logDir).map(_.getFileName.toString)
      .filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json").toLong)
      .foldLeft(-1L)(math.max)

  /** (version, operation, filesAdded, filesRemoved) per commit — the
    * per-commit audit record the specs assert on, deliberately
    * O(versions): it reads every commit because it REPORTS every
    * commit. Snapshot reads never come through here. */
  private[graft] def history: Seq[(Long, String, Int, Int)] =
    (0L to version).map { v =>
      val lines = Files.readAllLines(logDir.resolve(logName(v))).asScala.toSeq
      (v, commitOp(lines),
        lines.count(_.contains("\"op\":\"add\"")),
        lines.count(_.contains("\"op\":\"remove\"")))
    }

  // ------------------------------------------------------------------
  // The state fold: checkpoint seed + tail
  // ------------------------------------------------------------------

  private def foldLine(st: TableState, l: String): Unit = {
    if (l.contains("\"op\":\"add\"")) fileOf(l).foreach { f =>
      st.adds(f) = l; st.dv -= f // a (re-)added file starts DV-clean
    }
    else if (l.contains("\"op\":\"remove\"")) fileOf(l).foreach { f =>
      st.adds -= f; st.dv -= f
    }
    else if (l.contains("\"op\":\"dvset\"")) fileOf(l).foreach { f =>
      DvRefRe.findFirstMatchIn(l) match {
        case Some(m) => st.dv(f) = DvSidecar(m.group(1), m.group(2).toLong)
        case None =>
          val pos = DvPosRe.findFirstMatchIn(l).map(_.group(1)).getOrElse("")
          if (pos.isEmpty) st.dv -= f
          else st.dv(f) = DvInline(pos.split(',').map(_.toLong))
      }
    }
    if (l.contains("schemaB64"))
      SchemaRe.findFirstMatchIn(l).foreach(m => st.schemaB64 = Some(m.group(1)))
  }

  /** Newest readable checkpoint ≤ v: candidates newest-first, each
    * accepted only when it parses under a format this reader
    * understands — the binary `fmt:2` layout (magic-gated) or the r12
    * text `fmt:1` line format. An unknown future format (text declaring
    * a higher fmt, or a binary file with a different magic) is SKIPPED,
    * not mis-parsed, falling back to an older checkpoint or the
    * full-log fold (always available, always correct). Returns the
    * checkpoint's version and its already-parsed state so the fold
    * never reads the file twice. */
  private def usableCheckpointAtOrBefore(v: Long): Option[(Long, TableState)] =
    listDir(logDir).map(_.getFileName.toString)
      .filter(_.endsWith(".checkpoint"))
      .map(_.stripSuffix(".checkpoint").toLong)
      .filter(_ <= v)
      .sorted(Ordering[Long].reverse)
      .iterator
      .flatMap(c => readCheckpoint(logDir.resolve(checkpointName(c)))
        .map((c, _)))
      .nextOption()

  /** Parse one checkpoint file, format-gated: binary `fmt:2` by magic,
    * text `fmt:1` by header, anything else (including a binary parse
    * error — torn file, future layout) → None. The ENTIRE body sits
    * under one NonFatal→None gate — an unreadable file or a corrupt
    * fmt:1 line (a mangled positions field would throw out of the text
    * fold) degrades to an older checkpoint or the full log fold, it
    * never fails the read (the skip-never-misparse contract). One file
    * read either way, counted in [[logFileReads]]. */
  private def readCheckpoint(p: Path): Option[TableState] = {
    logFileReads.incrementAndGet()
    try {
      val bytes = Files.readAllBytes(p)
      if (bytes.length >= 4 &&
          ((bytes(0) & 0xFF) << 24 | (bytes(1) & 0xFF) << 16 |
           (bytes(2) & 0xFF) << 8 | (bytes(3) & 0xFF)) == CpMagic2)
        parseBinaryCheckpoint(bytes)
      else {
        val lines = new String(bytes, "UTF-8").split('\n').toSeq
        // anchored digit-boundary match: a future text header declaring
        // "fmt":10 must be SKIPPED, not folded under fmt:1 rules
        if (lines.headOption.exists(h =>
            h.contains("\"op\":\"cp\"") &&
              "\"fmt\":1([^0-9]|$)".r.findFirstIn(h).isDefined)) {
          val st = new TableState
          lines.foreach(foldLine(st, _))
          Some(st)
        } else None
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** [[stateAt]] that accepts the empty table (v < 0 → empty state) —
    * the head-state read every write path's retry loop starts from. */
  private[sources] def stateAtOrEmpty(v: Long): TableState =
    if (v < 0) new TableState else stateAt(v)

  /** The folded [[TableState]] at version v: seed from the latest
    * readable checkpoint ≤ v (if any), then fold only the tail —
    * O(interval) log files at any version count instead of
    * O(versions). Logs from before checkpointing fold from 0,
    * unchanged semantics. */
  private[sources] def stateAt(v: Long): TableState = {
    require(v >= 0 && v <= version, s"version $v outside [0, $version]")
    val cp = usableCheckpointAtOrBefore(v)
    val st = cp.map(_._2).getOrElse(new TableState)
    ((cp.map(_._1).getOrElse(-1L) + 1L) to v).foreach { i =>
      readLog(logDir.resolve(logName(i))).foreach(foldLine(st, _))
    }
    st
  }

  /** Write `_log/%012d.checkpoint` for version v when v is a multiple of
    * [[checkpointInterval]] — the folded state to v in the binary
    * `fmt:2` layout (magic header; add actions as length-prefixed UTF-8
    * verbatim so zone maps survive by reference; inline DV positions as
    * PACKED LONGS, not parsed text — the component that made the r12
    * text checkpoint the fold bottleneck), landed with the same
    * tmp + atomic-rename discipline as a commit. Runs OFF the commit
    * path (see [[commit]]): the interval-th commit returns as fast as
    * any other, and a reader racing the writer just folds a longer
    * tail. Best-effort and idempotent: a lost race or failure leaves
    * reads folding from an older seed, never wrong. Size scales with
    * LIVE state, not history — the Delta checkpoint shape. */
  private[sources] def maybeCheckpoint(v: Long): Unit = {
    if (checkpointInterval <= 0 || v <= 0 || v % checkpointInterval != 0) return
    val target = logDir.resolve(checkpointName(v))
    if (Files.exists(target)) return
    try {
      val bytes = serializeCheckpoint(stateAt(v), v)
      val tmp = logDir.resolve(s".cptmp-${UUID.randomUUID()}")
      try {
        Files.write(tmp, bytes)
        // same put-if-absent publish as commit(); a lost checkpoint
        // race is benign — the winner's content is identical
        publishIfAbsent(tmp, target)
      } finally Files.deleteIfExists(tmp) // failed write: no orphan
    } catch {
      case scala.util.control.NonFatal(e) =>
        // a checkpoint is derived state: its failure must not fail the
        // already-durable commit, but say so — a silently-degrading
        // O(versions) fold on a long-lived table is a real operational
        // signal, not noise
        System.err.println(
          s"[graft] checkpoint at v$v failed (reads fall back to the log fold): $e")
    }
  }

  /** Checkpoint writes this instance has handed to the shared async
    * writer thread and not yet confirmed durable. [[awaitCheckpoints]]
    * drains it — tests and artifact builders call that to make the
    * derived state deterministic; production readers never need to
    * (a missing checkpoint only lengthens the fold). */
  private val pendingCps =
    new java.util.concurrent.ConcurrentLinkedQueue[java.util.concurrent.Future[_]]

  /** Test seam: runs inside the async checkpoint task BEFORE the write
    * — lets a spec hold the checkpoint back and prove the commit
    * already returned (the off-commit-path contract), deterministically
    * instead of by timing. */
  private[graft] var checkpointGate: () => Unit = () => ()

  /** Block until every checkpoint this instance enqueued is written (or
    * has failed loudly). Cheap when none are pending. The writer pool
    * is JVM-shared ([[VersionedTable.cpPool]]), so this can also wait
    * behind OTHER tables' in-flight checkpoint writes — bounded by the
    * pool width, and only tests/artifact builders call this at all. */
  def awaitCheckpoints(): Unit = {
    var f = pendingCps.poll()
    while (f != null) {
      try f.get()
      catch { case _: java.util.concurrent.ExecutionException => () }
      f = pendingCps.poll()
    }
  }

  /** fmt:2 binary checkpoint layout (all big-endian via DataOutput):
    * magic, version, optional schemaB64, two retired sections written
    * empty (CHECK constraints as string pairs, a micro-batch ledger as
    * longs — kept as zero counts so the layout stays fmt:2), add
    * actions as length-prefixed UTF-8 (verbatim — zone maps and
    * restore-by-reference need the original line), and DV descriptors
    * (inline positions packed, sidecars by name+card).
    */
  private def serializeCheckpoint(st: TableState, v: Long): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(1 << 16)
    val out = new java.io.DataOutputStream(bos)
    def writeStr(s: String): Unit = {
      val b = s.getBytes("UTF-8"); out.writeInt(b.length); out.write(b)
    }
    out.writeInt(CpMagic2)
    out.writeLong(v)
    st.schemaB64 match {
      case Some(s) => writeStr(s)
      case None => out.writeInt(-1)
    }
    out.writeInt(0) // retired: constraints
    out.writeInt(0) // retired: batch ledger
    out.writeInt(st.adds.size)
    st.adds.values.foreach(writeStr)
    out.writeInt(st.dv.size)
    st.dv.foreach {
      case (f, DvInline(pos)) =>
        writeStr(f); out.writeByte(0)
        out.writeInt(pos.length); pos.foreach(out.writeLong)
      case (f, DvSidecar(n, card)) =>
        writeStr(f); out.writeByte(1); writeStr(n); out.writeLong(card)
    }
    out.flush()
    bos.toByteArray
  }

  /** Parse a fmt:2 checkpoint; ANY failure (truncated file, a layout
    * this build predates) → None, falling back to an older seed or the
    * full fold. */
  private def parseBinaryCheckpoint(bytes: Array[Byte]): Option[TableState] =
    try {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
      // every decoded length is bounded by the FILE size before any
      // allocation: a corrupted length field must fall back to the log
      // fold like any other parse failure, not throw OutOfMemoryError
      // (which is not NonFatal and would escape this gate)
      def boundedLen(n: Int, unit: Int): Int = {
        require(n >= 0 && n.toLong * unit <= bytes.length.toLong,
          s"checkpoint length field $n exceeds file size ${bytes.length}")
        n
      }
      def readStr(): String = {
        val n = boundedLen(in.readInt(), 1)
        val b = new Array[Byte](n); in.readFully(b); new String(b, "UTF-8")
      }
      require(in.readInt() == CpMagic2)
      in.readLong() // checkpoint version: implied by the file name
      val st = new TableState
      val schemaLen = in.readInt()
      if (schemaLen >= 0) {
        val b = new Array[Byte](boundedLen(schemaLen, 1)); in.readFully(b)
        st.schemaB64 = Some(new String(b, "UTF-8"))
      }
      // retired sections (older checkpoints may carry entries): skip
      (0 until boundedLen(in.readInt(), 1)).foreach { _ => readStr(); readStr() }
      (0 until boundedLen(in.readInt(), 8)).foreach(_ => in.readLong())
      (0 until boundedLen(in.readInt(), 1)).foreach { _ =>
        val line = readStr()
        fileOf(line).foreach(f => st.adds(f) = line)
      }
      (0 until boundedLen(in.readInt(), 1)).foreach { _ =>
        val f = readStr()
        in.readByte() match {
          case 0 =>
            val pos = new Array[Long](boundedLen(in.readInt(), 8))
            var i = 0
            while (i < pos.length) { pos(i) = in.readLong(); i += 1 }
            st.dv(f) = DvInline(pos)
          case 1 => st.dv(f) = DvSidecar(readStr(), in.readLong())
          case other => throw new IllegalStateException(s"dv kind $other")
        }
      }
      Some(st)
    } catch { case scala.util.control.NonFatal(_) => None }

  // ------------------------------------------------------------------
  // Snapshot accessors (all ride the checkpointed fold)
  // ------------------------------------------------------------------

  /** The live file set at version v. */
  def filesAt(v: Long): Seq[String] =
    stateAt(v).adds.keys.toSeq.map(n => dataDir.resolve(n).toString)

  /** Files ADDED by commit v alone — the micro-batch a log-tailing
    * streaming consumer ([[VersionedStreamProvider]]) serves for that
    * version. Fails loudly when a window's file is gone from disk:
    * silently skipping history would break the consumer's exactly-once
    * story. One log-file read, counted in [[logFileReads]]. */
  def filesAddedAt(v: Long): Seq[String] = {
    require(v >= 0 && v <= version, s"version $v outside [0, $version]")
    readLog(logDir.resolve(logName(v)))
      .filter(_.contains("\"op\":\"add\""))
      .flatMap(fileOf)
      .map { n =>
        val p = dataDir.resolve(n)
        require(Files.exists(p),
          s"commit $v data file $n is missing; this window is no longer streamable")
        p.toString
      }
  }

  /** The meta line's recorded operation for one commit's log lines —
    * "?" when unrecorded (pre-meta history). */
  private def commitOp(lines: Seq[String]): String =
    lines.collectFirst {
      case l if l.contains("\"op\":\"meta\"") =>
        "\"operation\":\"([a-z_]+)\"".r.findFirstMatchIn(l).map(_.group(1))
          .getOrElse("?")
    }.getOrElse("?")

  /** Per-commit change windows for the STREAMING change feed
    * ([[VersionedMicroBatchStream]] under `changeFeed`) over (s, e].
    * `st` MUST be the folded state at version s, and it is MUTATED
    * forward to e — the streaming change feed caches the advanced state
    * across triggers keyed by the last served version, so a
    * long-running CDC tail folds each commit EXACTLY ONCE per stream
    * lifetime (O(window) log reads per trigger, never O(history)).
    * Each window carries:
    *   - `added`: the file paths the commit ADDED (served as `insert`
    *     rows);
    *   - `removed`: (path, prior-DV descForm) per file the commit
    *     REMOVED — its rows AS VISIBLE at v-1 (minus the prior vector)
    *     serve as `delete` rows, so copy-on-write deletes, overwrites,
    *     merges, and restores all reach the feed (the file-CDC
    *     contract [[changesBetween]] documents; a rewrite emits its
    *     carried rows as both delete and insert);
    *   - `grown`: per `dvset` action, (file, new descriptor, prior
    *     descriptor) — the TASK diffs the two sidecars and serves the
    *     GROWN positions as `delete` rows. A vector that only SHRANK
    *     (a restore's un-delete) yields an empty diff and serves
    *     nothing.
    * MAINTENANCE commits (`compact`/`zorder`) are logical no-ops —
    * the snapshot's rows are identical before and after — and serve an
    * EMPTY window (Delta's dataChange=false discipline) instead of
    * spraying full-table delete+insert churn at every consumer.
    * Same contract as [[filesAddedAt]]: any data file or DV sidecar a
    * window's tasks would open that is missing on disk fails loudly,
    * never skips history. */
  private[sources] def changeWindowsFrom(st: TableState, s: Long,
      e: Long): Seq[ChangeWindow] = {
    require(s <= e && e <= version, s"window ($s, $e] outside history [0, $version]")
    ((s + 1) to e).map { v =>
      val lines = readLog(logDir.resolve(logName(v)))
      val op = commitOp(lines)
      val window =
        if (op == "compact" || op == "zorder") ChangeWindow(v, op, Nil, Nil, Nil)
        else {
          val addedN = lines.filter(_.contains("\"op\":\"add\"")).flatMap(fileOf)
          val removedN = lines.filter(_.contains("\"op\":\"remove\"")).flatMap(fileOf)
          // the commit's OWN dvset lines folded alone give the new
          // descriptors; the running state (still at v-1 here) gives
          // what they replaced. A clearing dvset (empty positions —
          // restore) never lands in tmp.dv, correctly: it can only
          // shrink, grown = ∅.
          val dvLines = lines.filter(_.contains("\"op\":\"dvset\""))
          val grownRaw =
            if (dvLines.isEmpty) Nil
            else {
              val tmp = new TableState
              dvLines.foreach(foldLine(tmp, _))
              tmp.dv.toSeq.map { case (f, d) => (f, d, st.dv.get(f)) }
            }
          // every data file AND DV sidecar the window's tasks will open
          // — a missing sidecar breaks a read exactly like a data file
          val needed = addedN ++ removedN ++ grownRaw.map(_._1) ++
            (removedN.flatMap(n => st.dv.get(n)) ++
              grownRaw.flatMap { case (_, d, p) => d +: p.toSeq }).collect {
              case DvSidecar(sc, _) => sc
            }
          needed.find(n => !Files.exists(dataDir.resolve(n))).foreach { n =>
            throw new IllegalArgumentException(
              s"commit $v data file $n is missing; this window is no longer streamable")
          }
          ChangeWindow(v, op,
            addedN.map(n => dataDir.resolve(n).toString),
            removedN.map(n => (dataDir.resolve(n).toString, descForm(st.dv.get(n)))),
            grownRaw.map { case (f, d, p) => (dataDir.resolve(f).toString, d, p) })
        }
      lines.foreach(foldLine(st, _)) // advance the running state to v
      window
    }
  }

  def read(spark: SparkSession): DataFrame = readAsOf(spark, version)

  /** Snapshot read under the LOG-CARRIED schema of that version (the
    * public Delta pattern: schema evolution lives in the commit meta,
    * not in a footer union scan), minus each file's deletion vector
    * (merge-on-read). Files written before a column existed are
    * null-filled by the parquet reader; commits from before schema
    * tracking fall back to footer inference. A version with NO live
    * files (a delete-all, or a restore to one) reads as an empty frame
    * under its recorded schema — only schema-less empty logs (possible
    * solely in pre-tracking history) are unreadable. */
  def readAsOf(spark: SparkSession, v: Long): DataFrame =
    readState(spark, stateAt(v), s"version $v")

  /** Snapshot read from an ALREADY-FOLDED state — the single-fold core
    * of [[readAsOf]], shared by the write paths so a commit attempt
    * folds the log exactly once (head state → schema + remove set +
    * snapshot read all from the same [[TableState]]). */
  private def readState(spark: SparkSession, st: TableState,
      what: => String): DataFrame = {
    val files = st.adds.keys.toSeq.map(n => dataDir.resolve(n).toString)
    if (files.isEmpty) emptyFrame(spark, st, what)
    else readFiles(spark, files, st.schemaB64.map(decodeSchema), st.dv)
  }

  /** An empty frame under the state's LOG-CARRIED schema — what an
    * empty snapshot reads as, and what a pruned read returns when the
    * zone maps eliminate EVERY candidate file (skipping's best case
    * must not throw). Only schema-less states (possible solely in
    * pre-schema-tracking history) are unreadable. */
  private def emptyFrame(spark: SparkSession, st: TableState,
      what: => String): DataFrame = {
    val sch = st.schemaB64.map(decodeSchema)
    require(sch.isDefined, s"$what has no candidate files and no recorded schema")
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), sch.get)
  }

  /** The table schema AS OF version v — the newest schema recorded in
    * the log up to v. None for logs written before schema tracking. */
  def schemaAt(v: Long): Option[StructType] = stateAt(v).schemaB64.map(decodeSchema)

  private[sources] def metaLine(op: String, schema: StructType, extra: String = ""): String = {
    val b64 = java.util.Base64.getEncoder
      .encodeToString(schema.json.getBytes("UTF-8"))
    s"""{"op":"meta","operation":"$op"$extra,"schemaB64":"$b64"}"""
  }

  /** Widen the table schema by the incoming frame: columns shared with
    * the table must agree on type (schema ENFORCEMENT — a silent type
    * flip is corpus corruption), incoming-only columns are appended
    * (schema EVOLUTION — old files null-fill them at read), and an
    * incoming frame may omit existing columns (its rows read as null
    * there). */
  private[sources] def unionSchema(current: Option[StructType], incoming: StructType): StructType =
    current match {
      case None => incoming
      case Some(cur) =>
        incoming.fields.foreach { f =>
          cur.find(_.name == f.name).foreach { c =>
            require(c.dataType == f.dataType,
              s"schema conflict on '${f.name}': table has ${c.dataType}, " +
                s"incoming has ${f.dataType}")
          }
        }
        StructType(cur.fields ++
          incoming.fields.filterNot(f => cur.exists(_.name == f.name)))
    }

  /** Atomic PUT-IF-ABSENT publish of a fully-written temp file. POSIX
    * rename() silently REPLACES an existing target, and `Files.move`
    * without REPLACE_EXISTING raises FileAlreadyExistsException from a
    * NON-ATOMIC exists-then-rename — a TOCTOU window two racing writers
    * can both pass, after which the second rename silently DESTROYS the
    * first writer's commit (the writer-storm spec caught exactly this
    * once the round's concurrency tests raised the contention). A hard
    * LINK is the filesystem's put-if-absent primitive: link(2) fails
    * atomically with EEXIST when the target exists — the same
    * rename-if-absent contract Delta's HDFS LogStore builds on. Returns
    * false when the target was taken; the temp file is always cleaned.
    *
    * Portability: on a filesystem WITHOUT hard-link support (createLink
    * reports UnsupportedOperationException) the publish degrades to
    * move-without-REPLACE — still correct for a single writer, but its
    * exists-then-rename is the non-atomic TOCTOU the link path exists
    * to close, so MULTI-writer tables require a hard-link-capable
    * filesystem (any POSIX local/NFS target qualifies). */
  private def publishIfAbsent(tmp: Path, target: Path): Boolean =
    try {
      Files.createLink(target, tmp)
      Files.deleteIfExists(tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp); false
      case _: UnsupportedOperationException =>
        try { Files.move(tmp, target); true }
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            Files.deleteIfExists(tmp); false
        }
    }

  /** Atomic commit of version v. Returns false when v was taken by a
    * concurrent writer (caller re-reads the head and retries). Every
    * `checkpointInterval`-th landed commit also enqueues a log
    * checkpoint on the shared ASYNC writer thread — the commit returns
    * as soon as the publish lands, never paying the checkpoint's
    * fold-and-write latency (the Delta discipline: checkpoints are
    * derived state, written after the fact, best-effort). */
  private[graft] def commit(v: Long, actions: Seq[String]): Boolean = {
    Files.createDirectories(logDir)
    val tmp = logDir.resolve(s".tmp-${UUID.randomUUID()}")
    Files.write(tmp, actions.mkString("\n").getBytes("UTF-8"))
    if (!publishIfAbsent(tmp, logDir.resolve(logName(v)))) return false
    if (checkpointInterval > 0 && v > 0 && v % checkpointInterval == 0) {
      // opportunistically drop already-finished futures so a
      // long-lived writer (the streaming-ingest shape: one instance,
      // 10^6 micro-batches) never accumulates them — production paths
      // don't call awaitCheckpoints. removeIf checks the predicate ON
      // the element it removes: a peek/poll pair here would let two
      // concurrent interval commits race one done-check into dropping
      // a RUNNING future, silently breaking awaitCheckpoints.
      pendingCps.removeIf(f => f.isDone)
      pendingCps.add(cpPool.submit(new Runnable {
        def run(): Unit = { checkpointGate(); maybeCheckpoint(v) }
      }))
    }
    true
  }

  // ------------------------------------------------------------------
  // Footer stats harvesting (zone maps): INT32/INT64 and BYTE_ARRAY
  // ------------------------------------------------------------------

  /** Per-file stats of the requested columns straight from the parquet
    * FOOTER, in ONE footer open — metadata only, zero data pages (at
    * 100 TB these numbers come from the writer's own row-group stats;
    * here we read them back the same way any lake engine's stats
    * collector does). Three harvests per file:
    *   - the file's total ROW COUNT (sum of block row counts);
    *   - per column, a min/max interval: INT32/INT64 yield a Long
    *     interval; BYTE_ARRAY (string) yields truncated-bound byte
    *     intervals (see [[VersionedTable.truncMax]] — the min bound is
    *     a sound prefix, the max bound a sound increment, exactly the
    *     Iceberg/Delta truncate(N) discipline, so pruning on
    *     arbitrarily long values stays correct while the log stays
    *     small). An all-NULL column records no bounds;
    *   - per column, its NULL COUNT — recorded only when EVERY row
    *     group reports one (parquet statistics may omit it), the stat
    *     that serves IS NULL / IS NOT NULL pruning and closes the
    *     all-null blind spot (a bounds-less all-null file is provably
    *     unmatchable by any VALUE predicate on the column).
    */
  private def footerStats(file: Path, columns: Seq[String])
      : (Long, Seq[(String, Either[(Long, Long), (String, String)])],
         Seq[(String, Long)]) = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toString),
      new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = r.getFooter.getBlocks.asScala.toList
      val rows = blocks.map(_.getRowCount).sum
      def chunksOf(column: String) = blocks.flatMap { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == column)
      }
      val bounds = columns.flatMap { column =>
        val chunks = chunksOf(column)
        import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
        // anything outside the stats lattice (double, boolean, ...) gets a
        // diagnosable error, not a bare MatchError out of the accessors
        chunks.foreach { c =>
          val p = c.getPrimitiveType.getPrimitiveTypeName
          require(p == INT64 || p == INT32 || p == BINARY,
            s"statsCol must be integer- or string-typed, got $p for column '$column'")
        }
        val stats = chunks.map(_.getStatistics)
        val interval: Option[Either[(Long, Long), (String, String)]] =
          if (stats.isEmpty || stats.exists(s => s == null || !s.hasNonNullValue)) None
          else chunks.head.getPrimitiveType.getPrimitiveTypeName match {
            case BINARY =>
              val mins = stats.map(_.genericGetMin
                .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
              val maxs = stats.map(_.genericGetMax
                .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
              val mn = truncMin(mins.reduce((a, b) => if (ucmp(a, b) <= 0) a else b))
              truncMax(maxs.reduce((a, b) => if (ucmp(a, b) >= 0) a else b)).map { mx =>
                Right((b64(mn), b64(mx)))
              }
            case _ =>
              Some(Left((
                stats.map(_.genericGetMin match {
                  case l: java.lang.Long => l.longValue
                  case i: java.lang.Integer => i.longValue
                }).min,
                stats.map(_.genericGetMax match {
                  case l: java.lang.Long => l.longValue
                  case i: java.lang.Integer => i.longValue
                }).max)))
          }
        interval.map((column, _))
      }
      val nulls = columns.flatMap { column =>
        val chunks = chunksOf(column)
        val stats = chunks.map(_.getStatistics)
        // sound-or-silent: a single row group with an unset null count
        // makes the file's total unknowable — record nothing (the file
        // stays a candidate for every null probe)
        if (chunks.size == blocks.size && stats.nonEmpty &&
            stats.forall(s => s != null && s.isNumNullsSet))
          Some((column, stats.map(_.getNumNulls).sum))
        else None
      }
      (rows, bounds, nulls)
    } finally r.close()
  }

  /** Stage the frame's parquet files into data/ under unique names
    * (invisible until some commit references them), harvesting footer
    * min/max of `statsCol` for the commit log's skipping index. */
  private def stage(spark: SparkSession, df: DataFrame,
      statsCol: Option[String]): Seq[String] =
    stageMulti(spark, df, statsCol.toSeq)

  /** Multi-column variant: harvest footer min/max for EVERY column in
    * `statsCols`. One recorded Long column keeps the legacy single-stat
    * add action (older logs parse unchanged); one string column lands in
    * `scol`/`smin`/`smax` (base64 truncated bounds); two or more pack
    * into `multi` (string entries tagged `s:`) — the multi-dimensional
    * zone map a z-ordered layout needs, since its whole point is that
    * BOTH clustered columns have tight per-file intervals. Every
    * stats-carrying add also records the file's ROW COUNT and each
    * stats column's NULL COUNT (`"rows"`/`"nulls"` fields) — additive
    * fields, so pre-r14 readers regex right past them and pre-r14 logs
    * (no fields) simply never null-prune (sound both directions; the
    * compat spec pins it). */
  private def stageMulti(spark: SparkSession, df: DataFrame,
      statsCols: Seq[String]): Seq[String] = {
    statsCols.foreach(c => require(c.matches("[A-Za-z0-9_]+"),
      s"stats column '$c' must be [A-Za-z0-9_]+"))
    Files.createDirectories(dataDir)
    val tmp = Paths.get(root, s"_tmp-${UUID.randomUUID()}")
    df.write.parquet(tmp.toString)
    val parts = listDir(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
    val actions = parts.zipWithIndex.map { case (p, i) =>
      val name = s"${UUID.randomUUID().toString.take(8)}-$i.parquet"
      // EVERY add records its row count and on-disk bytes (one footer
      // open + one stat at stage time, off the read path): they serve
      // the DSv2 scan's exact row counts and reported scan size — with
      // zero per-query file-system calls on tables whose whole live set
      // carries them. Column null counts still need a
      // stats column set (the harvest is per-column).
      val (rows, stats, nulls) = footerStats(p, statsCols)
      val bytes = Files.size(p)
      Files.move(p, dataDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      val nullsField = {
        val packed = nulls.map { case (c, n) => s"$c:$n" }.mkString(";")
        s""","rows":$rows,"bytes":$bytes""" +
          (if (packed.isEmpty) "" else s""","nulls":"$packed"""")
      }
      stats match {
        case Seq((c, Left((lo, hi)))) =>
          s"""{"op":"add","file":"$name","col":"$c","min":$lo,"max":$hi$nullsField}"""
        case Seq((c, Right((mn, mx)))) =>
          s"""{"op":"add","file":"$name","scol":"$c","smin":"$mn","smax":"$mx"$nullsField}"""
        case Seq() => s"""{"op":"add","file":"$name"$nullsField}"""
        case many =>
          val packed = many.map {
            case (c, Left((lo, hi))) => s"$c,$lo,$hi"
            case (c, Right((mn, mx))) => s"$c,s:$mn,s:$mx"
          }.mkString("|")
          s"""{"op":"add","file":"$name","multi":"$packed"$nullsField}"""
      }
    }
    deleteRecursively(tmp) // any writer leftovers (e.g. _SUCCESS) included
    actions
  }

  private def fileOf(action: String): Option[String] =
    FileRe.findFirstMatchIn(action).map(_.group(1))

  // ------------------------------------------------------------------
  // Write paths
  // ------------------------------------------------------------------

  /** Append: stage once, then race for the next version number (an
    * append's actions are head-independent, so a lost race just retries
    * the rename). Returns the committed version. */
  def append(spark: SparkSession, df: DataFrame,
      statsCol: Option[String] = None): Long = {
    val adds = stage(spark, df, statsCol)
    var committed = -1L
    while (committed < 0) {
      val head = version
      val st = stateAtOrEmpty(head) // ONE fold per attempt
      val s = unionSchema(st.schemaB64.map(decodeSchema), df.schema)
      if (commit(head + 1, metaLine("append", s) +: adds)) committed = head + 1
    }
    committed
  }

  /** Overwrite: stage once; the remove set is REBASED against the head
    * on every retry so a concurrent append's files are removed too —
    * overwrite means "the table becomes exactly this frame". */
  def overwrite(spark: SparkSession, df: DataFrame,
      statsCol: Option[String] = None): Long = {
    val adds = stage(spark, df, statsCol)
    var committed = -1L
    while (committed < 0) {
      val head = version
      val st = stateAtOrEmpty(head) // ONE fold per attempt
      val removes = st.adds.keys.toSeq
      // overwrite REPLACES the state, so the schema resets to the frame's
      // (earlier versions keep reading under their own recorded schema)
      val actions = metaLine("overwrite", df.schema) +:
        (removes.map(removeLine) ++ adds)
      if (commit(head + 1, actions)) committed = head + 1
    }
    committed
  }

  /** MERGE (upsert): the head snapshot's rows whose `key` appears in
    * `updates` are REPLACED, the rest kept, unmatched updates inserted —
    * committed as one new version tagged `merge`. Physically: one keyed
    * left-anti join (the survivors) unioned with the updates, staged,
    * then remove-head/add-all — the transactional upsert an SCD1 /
    * latest-state corpus store runs nightly. At 100 TB the join
    * shuffles on the key with the update side typically broadcast —
    * never a snapshot rewrite per updated row.
    *
    * Concurrency: merge's read set is KEY-level (every head row's key
    * was consulted), so file-level disjointness is NOT a sufficient
    * conflict test — a concurrent append could insert a key the merge
    * must replace. A lost race therefore rebases only under the
    * PREDICATE test the lake engines use: every file the interleave
    * added carries an integer zone map on `key` that PROVABLY misses
    * the updates' [min, max] key range (and every merged-away file is
    * untouched). Then the appended rows cannot contain a merged key,
    * the staged rewrite re-commits with the appended files carried
    * live, and no Spark job re-runs. Anything else — overlapping or
    * unknowable key ranges, a non-integer key, a touched base file —
    * recomputes against the new head (staged files dropped, never
    * leaked). */
  def merge(spark: SparkSession, updates: DataFrame, key: String,
      statsCol: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.{col, max, min}
    // the updates' key interval, computed lazily on the first lost race
    // (one tiny agg); inner None = key not integer-typed → never rebase
    var updRange: Option[Option[(Long, Long)]] = None
    def keyRange(): Option[(Long, Long)] = {
      if (updRange.isEmpty) {
        val integral = updates.schema.find(_.name == key).exists(f =>
          f.dataType == org.apache.spark.sql.types.LongType ||
            f.dataType == org.apache.spark.sql.types.IntegerType)
        updRange = Some(
          if (!integral) None
          else {
            val r = updates.agg(min(col(key).cast("long")),
              max(col(key).cast("long"))).head()
            if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
          })
      }
      updRange.get
    }
    var staged: Option[(TableState, Seq[String], Seq[String])] = None
    var committed = -1L
    while (committed < 0) {
      val head = version
      val st = stateAtOrEmpty(head) // ONE fold per attempt
      val rebasable = staged.filter { case (base, removes, _) =>
        untouchedBetween(base, st, removes) && {
          val newFiles = st.adds.filterNot { case (f, _) => base.adds.contains(f) }
          newFiles.isEmpty || keyRange().exists { case (lo, hi) =>
            newFiles.forall { case (_, line) =>
              longStatsOf(line).toMap.get(key)
                .exists { case (fLo, fHi) => fHi < lo || fLo > hi }
            }
          }
        }
      }
      val (removes, adds) = rebasable match {
        case Some((_, r, a)) => (r, a)
        case _ =>
          staged.foreach { case (_, _, a) => dropStaged(a) }
          staged = None
          cowJobRuns.incrementAndGet()
          val merged =
            if (head < 0) updates
            else readState(spark, st, s"version $head")
              .join(updates.select(key), Seq(key), "left_anti")
              .unionByName(updates, allowMissingColumns = true)
          val a = stage(spark, merged, statsCol)
          val r = st.adds.keys.toSeq
          staged = Some((st, r, a))
          (r, a)
      }
      val s = unionSchema(st.schemaB64.map(decodeSchema), updates.schema)
      val actions = metaLine("merge", s) +:
        (removes.map(removeLine) ++ adds)
      onCowCommitAttempt()
      if (commit(head + 1, actions)) committed = head + 1
    }
    committed
  }

  // ------------------------------------------------------------------
  // DELETE: copy-on-write (zone-map-pruned rewrite) and merge-on-read
  // (deletion vectors)
  // ------------------------------------------------------------------

  /** Row-level DELETE of `column IN [lo, hi]`, copy-on-write with
    * file-granularity pruning: only live files whose recorded zone map
    * CAN intersect the predicate are rewritten (minus the matching
    * rows); every other file is carried by reference, untouched. On a
    * 100-TB table a targeted delete (the GDPR/right-to-be-forgotten
    * shape) then rewrites the few files holding the key range instead
    * of the snapshot. NULLs survive (the predicate is three-valued:
    * only rows provably inside the range are removed). Returns the new
    * version, or the current head when no file can match. The deleted
    * rows stay time-travelable. For a needle-in-haystack delete that
    * would rewrite whole files for a handful of rows, prefer
    * [[deleteRowsWhere]] (merge-on-read).
    */
  def deleteWhere(spark: SparkSession, column: String, lo: Long, hi: Long): Long = {
    import org.apache.spark.sql.functions.col
    deleteCoW(spark, longCandidate(_, column, lo, hi),
      survivors = df => df.filter(!col(column).between(lo, hi) || col(column).isNull),
      statsCols = Seq(column))
  }

  /** Row-level DELETE of `column IN (values)` for a STRING column,
    * copy-on-write with string-zone-map pruning: a live file is
    * rewritten only when its recorded (truncated-bound) byte interval
    * on `column` can contain at least one of the values — the corpus
    * shape ("drop these sources / langs") where the predicate column is
    * text, not a key range. Same carry-by-reference, NULL-survives,
    * time-travel contract as [[deleteWhere]]. */
  def deleteWhereIn(spark: SparkSession, column: String, values: Seq[String]): Long = {
    import org.apache.spark.sql.functions.col
    require(values.nonEmpty, "deleteWhereIn needs at least one value")
    val vb = values.map(_.getBytes("UTF-8"))
    deleteCoW(spark, inCandidate(_, column, vb),
      survivors = df => df.filter(!col(column).isin(values: _*) || col(column).isNull),
      statsCols = Seq(column))
  }

  /** True when every file in `files` is identical between the two
    * folded states — same governing add action (so zone maps and file
    * identity agree) and same DV descriptor. This is the OCC conflict
    * test all the rewrite paths share: a staged rewrite of exactly
    * these files stays valid under any interleaved commit that left
    * them alone (appends, deletes of OTHER files). */
  private def untouchedBetween(base: TableState, head: TableState,
      files: Iterable[String]): Boolean =
    files.forall(f =>
      head.adds.get(f) == base.adds.get(f) && head.dv.get(f) == base.dv.get(f))

  /** Spark rewrite jobs the rewrite paths (the deleteWhere family,
    * compaction, and merge) have executed on this instance — the
    * OCC-rebase observable, the [[dvDeleteJobRuns]] twin. */
  private[graft] val cowJobRuns = new AtomicLong(0L)

  /** Test seam: runs immediately before each CoW commit attempt. */
  private[graft] var onCowCommitAttempt: () => Unit = () => ()

  /** Drop a staged-but-never-committed rewrite's files instead of
    * leaking them as unreferenced orphans. */
  private def dropStaged(adds: Seq[String]): Unit =
    adds.flatMap(fileOf).foreach(n => Files.deleteIfExists(dataDir.resolve(n)))

  /** Shared copy-on-write delete skeleton: prune the implicated file set
    * from the log's zone maps (`candidate` tests one add line), read
    * ONLY those files (DV-aware — rows a
    * prior merge-on-read delete removed must not resurrect), rewrite the
    * survivors, carry everything else by reference.
    *
    * Lost commit races first attempt a LOGICAL REBASE, under TWO
    * proofs: every implicated file is untouched at the new head (a
    * delete/rewrite of other files), AND every file the interleave
    * ADDED provably misses the predicate — `candidate` rejects it
    * (the same pruning test the delete itself ran; a stats-less appended file always fails it). The
    * second proof is what merge's key-range test is for merge: without
    * it, rows appended BEFORE the delete's commit version would
    * silently survive a predicate that matches them. When the appended
    * files could match, the staged files drop and the delete
    * recomputes against the new head — serializable by proof, not by
    * stance. The meta line re-reads the head's schema so a concurrent
    * evolution is never regressed. */
  private def deleteCoW(spark: SparkSession, candidate: String => Boolean,
      survivors: DataFrame => DataFrame,
      statsCols: Seq[String]): Long = {
    // staged = (state the rewrite was computed against, implicated
    // files, their staged replacement add actions)
    var staged: Option[(TableState, Seq[String], Seq[String])] = None
    var committed = -1L
    while (committed < 0) {
      val head = version
      require(head >= 0, "nothing to delete from")
      val st = stateAt(head)
      val (hit, adds) = staged match {
        // appended-file guard: run the SAME zone-map pruning over just
        // the interleave's new files — none surviving means no appended
        // row can match the predicate, so the rebase is serializable
        case Some((base, h, a)) if untouchedBetween(base, st, h) &&
            !st.adds.exists { case (f, line) => !base.adds.contains(f) && candidate(line) } =>
          (h, a)
        case _ =>
          staged.foreach { case (_, _, a) => dropStaged(a) }
          staged = None
          val h = candidates(st, candidate)
          if (h.isEmpty) return head
          cowJobRuns.incrementAndGet()
          val sch = st.schemaB64.map(decodeSchema)
          val kept = survivors(
            readFiles(spark, h.map(n => dataDir.resolve(n).toString), sch, st.dv))
          val a = stageMulti(spark, kept, statsCols)
          staged = Some((st, h, a))
          (h, a)
      }
      val metaL = st.schemaB64.map(s => metaLine("delete", decodeSchema(s)))
        .getOrElse("""{"op":"meta","operation":"delete"}""")
      val actions = metaL +: (hit.map(removeLine) ++ adds)
      onCowCommitAttempt()
      if (commit(head + 1, actions)) committed = head + 1
    }
    committed
  }

  /** Spark jobs this instance's [[deleteRowsWhere]] has executed — the
    * observable for the OCC-rebase contract (a lost race against a
    * DISJOINT commit re-renames, it does not re-run the job). */
  private[graft] val dvDeleteJobRuns = new AtomicLong(0L)

  /** Test seam: runs immediately before each [[deleteRowsWhere]] commit
    * attempt — lets a spec interleave a concurrent commit
    * deterministically and assert the rebase path. */
  private[graft] var onDvCommitAttempt: () => Unit = () => ()

  /** Merge-on-read DELETE (deletion vectors): rows matching the SQL
    * `predicate` are deleted by committing their positions as DV
    * SIDECAR FILES, not by rewriting data — the needle-per-file shape
    * ([[deleteWhere]]'s worst case: one matching row in each of 10⁴
    * files would rewrite all of them) commits in O(touched files)
    * metadata. The sidecars are WRITTEN BY THE EXECUTORS: matches are
    * grouped per data file, each group's task merges the file's prior
    * vector (loaded task-side) with the fresh positions and writes one
    * range-run-encoded `.dv` file under `data/`; only (file, sidecar
    * name, cardinality) triples return to the driver, so the match set
    * is unbounded — a bulk MoR delete needs no copy-on-write fallback
    * and the log line stays O(1) per file. Speculative or retried
    * tasks can orphan a sidecar under a different unique name; orphans
    * are invisible (never referenced by a commit), the same staging
    * discipline data files use.
    *
    * Read-time cost: DV'd files are served through a positional
    * anti-join / task-side skip; compaction ([[compactZOrder]]) folds
    * DVs back into clean files — the maintenance step that bounds the CUMULATIVE vector
    * size across repeated deletes. NULL predicate rows survive
    * (three-valued, same as deleteWhere).
    *
    * Concurrency: optimistic, WriteSerializable-style. A lost commit
    * race first attempts a LOGICAL REBASE — if every interleaved
    * commit is disjoint from the touched files (same add action, same
    * prior DV descriptor at the new head: true for concurrent appends
    * and for deletes/rewrites of other files), the already-written
    * sidecars re-commit on top with no Spark re-execution (rows a
    * concurrent append lands are NOT retro-matched — the
    * WriteSerializable choice Delta makes for DELETE vs append).
    * A conflicting interleave (the touched files were rewritten,
    * removed, or re-vectored) drops the staged sidecars and recomputes
    * against the new head. Returns the new version, or the head when
    * nothing matches.
    */
  def deleteRowsWhere(spark: SparkSession, predicate: String): Long = {
    import org.apache.spark.sql.functions.{col, collect_list, expr, sort_array}
    import spark.implicits._
    val dataDirStr = dataDir.toString
    // the staged Spark-job result: (head state it was computed against,
    // per-file sidecar descriptor)
    var staged: Option[(TableState, Seq[(String, DvSidecar)])] = None
    var committed = -1L
    while (committed < 0) {
      val head = version
      require(head >= 0, "nothing to delete from")
      val st = stateAt(head)
      if (st.adds.isEmpty) return head
      val rebasable = staged.filter { case (base, descs) =>
        descs.forall { case (f, _) =>
          st.adds.get(f) == base.adds.get(f) && st.dv.get(f) == base.dv.get(f)
        }
      }
      val dvsets: Seq[(String, DvSidecar)] = rebasable match {
        case Some((_, descs)) => descs // disjoint interleave: pure re-rename
        case None =>
          // conflicting rebase (or first pass): drop any staled sidecars
          // instead of leaking them, then (re)run the job
          staged.foreach { case (_, descs) =>
            descs.foreach { case (_, sc) =>
              Files.deleteIfExists(dataDir.resolve(sc.name))
            }
          }
          staged = None
          dvDeleteJobRuns.incrementAndGet()
          val paths = st.adds.keys.toSeq.map(n => dataDir.resolve(n).toString)
          val sch = st.schemaB64.map(decodeSchema)
          // prior descriptors in a task-shippable form: sidecar ref or
          // inline positions (legacy logs only — new vectors are refs)
          val prior: Map[String, (String, Array[Long])] =
            st.dv.toMap.map { case (f, d) => (f, descForm(Some(d))) }
          val descs = readFilesWithMeta(spark, paths, sch, st.dv)
            .filter(expr(predicate))
            .select(col(DvFileCol), col(DvPosCol))
            .groupBy(col(DvFileCol))
            .agg(sort_array(collect_list(col(DvPosCol))).as("pos"))
            .as[(String, Array[Long])]
            .map { case (f, fresh) =>
              // task-side: prior vector ∪ fresh matches → one sidecar.
              // fresh ∩ prior = ∅ (the scan already subtracted prior
              // deletes), so this is a sorted-merge, not a dedup.
              val old: Array[Long] = prior.get(f) match {
                case Some(("", inline)) => inline
                case Some((ref, _)) =>
                  readDvSidecar(Paths.get(dataDirStr).resolve(ref))
                case None => Array.empty[Long]
              }
              val merged = mergeSorted(old, fresh)
              val name = s"${UUID.randomUUID().toString.take(12)}.dv"
              writeDvSidecar(Paths.get(dataDirStr).resolve(name), merged)
              (f, name, merged.length.toLong)
            }
            .collect()
            .toSeq.sortBy(_._1)
            .map { case (f, n, c) => (f, DvSidecar(n, c)) }
          if (descs.isEmpty) return head
          staged = Some((st, descs))
          descs
      }
      val metaL = st.schemaB64
        .map(s => s"""{"op":"meta","operation":"delete_mor","schemaB64":"$s"}""")
        .getOrElse("""{"op":"meta","operation":"delete_mor"}""")
      onDvCommitAttempt()
      if (commit(head + 1, metaL +: dvsets.map { case (f, d) => dvsetLine(f, d) }))
        committed = head + 1
    }
    committed
  }

  /** The `dvset` action line for one descriptor — inline vectors keep
    * the r12 spelling (restore/checkpoint carry legacy state verbatim),
    * sidecars are referenced by name + cardinality. */
  private def dvsetLine(f: String, d: DvDesc): String = d match {
    case DvInline(p) =>
      s"""{"op":"dvset","file":"$f","positions":"${p.mkString(",")}"}"""
    case DvSidecar(n, c) => s"""{"op":"dvset","file":"$f","dvref":"$n","card":$c}"""
  }

  private def removeLine(f: String): String = s"""{"op":"remove","file":"$f"}"""

  // ------------------------------------------------------------------
  // DV-aware file readers
  // ------------------------------------------------------------------

  private def reader(spark: SparkSession, sch: Option[StructType]) =
    sch.map(spark.read.schema).getOrElse(spark.read)

  /** Read `paths` under `sch`, subtracting each file's deletion vector.
    * Files with no DV take the plain parquet scan (bit-identical plan to
    * the pre-DV engine); DV'd files anti-join a BROADCAST (file, pos)
    * set on the parquet reader's `_metadata` columns. The broadcast side
    * is the files' CUMULATIVE live vector — sidecar positions expand on
    * the executors before the broadcast collects them — and its size is
    * bounded by the compaction discipline ([[compactZOrder]] folds DV debt
    * into clean files), not by any single delete: a table that deletes
    * merge-on-read forever without compacting pays an ever-growing
    * read-side join, exactly the documented Delta/Iceberg DV trade. */
  private[sources] def readFiles(spark: SparkSession, paths: Seq[String],
      sch: Option[StructType],
      dv: scala.collection.Map[String, DvDesc]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val dirty = paths.filter(p => dv.get(Paths.get(p).getFileName.toString)
      .exists(_.cardinality > 0))
    if (dirty.isEmpty) return reader(spark, sch).parquet(paths: _*)
    // Set membership, not a list scan: the clean/dirty split runs at
    // PLANNING time on every read, and O(n·m) list contains would cost a
    // 100k-file table a quadratic driver pass
    val dirtySet = dirty.toSet
    val clean = paths.filterNot(dirtySet)
    val filtered = {
      val withMeta = readFilesWithMeta(spark, dirty, sch, dv)
      val cols = withMeta.columns.filterNot(c => c == DvFileCol || c == DvPosCol)
      withMeta.select(cols.map(col): _*)
    }
    if (clean.isEmpty) filtered
    else reader(spark, sch).parquet(clean: _*).unionByName(filtered)
  }

  /** Like [[readFiles]] but keeps the (file name, row position) metadata
    * columns — what [[deleteRowsWhere]] needs to turn matches into
    * deletion vectors. Already-deleted positions are subtracted first,
    * so a second MoR delete never re-deletes or resurrects. Sidecar
    * vectors are expanded into (file, pos) pairs ON THE EXECUTORS
    * (each flatMap task reads its descriptor's sidecar); only the
    * broadcast mechanic itself funnels the expanded pairs through the
    * driver, same as any small-side broadcast. */
  private def readFilesWithMeta(spark: SparkSession, paths: Seq[String],
      sch: Option[StructType],
      dv: scala.collection.Map[String, DvDesc]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val raw = reader(spark, sch).parquet(paths: _*)
    val base = raw.select(raw.columns.map(col) :+
      col("_metadata.file_name").as(DvFileCol) :+
      col("_metadata.row_index").as(DvPosCol): _*)
    val names = paths.map(p => Paths.get(p).getFileName.toString).toSet
    val descs: Seq[(String, String, Array[Long])] = dv.toSeq.collect {
      case (f, d) if names(f) && d.cardinality > 0 =>
        val (ref, inline) = descForm(Some(d))
        (f, ref, inline)
    }
    if (descs.isEmpty) base
    else {
      val pairs = expandDvPairs(spark, descs)
      // The cumulative cardinality is known from the descriptors, so the
      // join strategy is chosen WITHOUT materializing anything: small
      // vectors broadcast (one hash per executor, no shuffle of `base`);
      // a bulk-delete table past the threshold takes a SHUFFLED anti-join
      // instead — the pair expansion stays on the executors end to end
      // and nothing rides the driver, so even compaction (the mitigation
      // that retires the vectors) works on the table that most needs it.
      val totalCard = dv.collect {
        case (f, d) if names(f) => d.cardinality
      }.sum
      if (totalCard <= DvBroadcastMaxPositions)
        base.join(broadcast(pairs), Seq(DvFileCol, DvPosCol), "left_anti")
      else
        base.join(pairs, Seq(DvFileCol, DvPosCol), "left_anti")
    }
  }

  /** Expand DV descriptors into a distributed (file, pos) pair frame —
    * sidecars are read BY THE TASKS, inline positions (legacy logs,
    * bounded) ship in the closure. The building block the anti-join
    * read and the change-feed diff share. */
  private def expandDvPairs(spark: SparkSession,
      descs: Seq[(String, String, Array[Long])]): DataFrame = {
    import spark.implicits._
    val dataDirStr = dataDir.toString
    descs.toDS.flatMap { case (f, ref, inline) =>
      val pos = if (ref.isEmpty) inline
        else readDvSidecar(Paths.get(dataDirStr).resolve(ref))
      pos.map(p => (f, p))
    }.toDF(DvFileCol, DvPosCol)
  }

  /** A descriptor in the task-shippable (sidecarName, inlinePositions)
    * form expandDvPairs consumes; absent descriptor = empty vector. */
  private[sources] def descForm(d: Option[DvDesc]): (String, Array[Long]) = d match {
    case Some(DvInline(p)) => ("", p)
    case Some(DvSidecar(n, _)) => (n, Array.empty[Long])
    case None => ("", Array.empty[Long])
  }

  /** Read ONLY the rows named by a distributed (file, pos) pair frame —
    * the change feed's positional read for DV-grown (deleted) and
    * DV-shrunk (restored) rows. Inner join on the parquet reader's
    * metadata pair; broadcast only when `pairsBound` (known from the
    * descriptors) says the pair side is small, otherwise shuffled — a
    * bulk-delete CDC window must not funnel its positions through the
    * driver. */
  private def readOnlyPositions(spark: SparkSession, sch: Option[StructType],
      files: Seq[String], pairs: DataFrame, pairsBound: Long): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val paths = files.map(f => dataDir.resolve(f).toString)
    val raw = reader(spark, sch).parquet(paths: _*)
    val cols = raw.columns
    val withMeta = raw.select(raw.columns.map(col) :+
      col("_metadata.file_name").as(DvFileCol) :+
      col("_metadata.row_index").as(DvPosCol): _*)
    val joined =
      if (pairsBound <= DvBroadcastMaxPositions)
        withMeta.join(broadcast(pairs), Seq(DvFileCol, DvPosCol), "inner")
      else withMeta.join(pairs, Seq(DvFileCol, DvPosCol), "inner")
    joined.select(cols.map(col): _*)
  }

  // ------------------------------------------------------------------
  // Zone-map pruned reads
  // ------------------------------------------------------------------

  /** Live file NAMES whose add line `keep` accepts — one zone-map or
    * null-count candidate test applied to a folded state. */
  private def candidates(st: TableState, keep: String => Boolean): Seq[String] =
    st.adds.toSeq.collect { case (n, line) if keep(line) => n }

  /** The core every data-skipping read shares: ONE fold (prune and
    * DV-subtract from the same state), open only the candidate files,
    * then apply the `residual` row filter — skipping must be sound, not
    * complete, and the residual keeps the result exact however coarse
    * the recorded stats are. Files are read under the LOG-CARRIED
    * schema, like [[readAsOf]]: a pruned candidate set may predate an
    * evolved column, which must null-fill, not vanish. A probe the
    * stats FULLY prune returns an empty frame under that schema. */
  private def prunedRead(spark: SparkSession, v: Long, probe: => String,
      keep: String => Boolean, residual: org.apache.spark.sql.Column): DataFrame = {
    val st = stateAt(v)
    val files = candidates(st, keep).map(n => dataDir.resolve(n).toString)
    if (files.isEmpty) emptyFrame(spark, st, s"probe $probe at version $v")
    else readFiles(spark, files, st.schemaB64.map(decodeSchema), st.dv).filter(residual)
  }

  /** Data-skipping read of `column BETWEEN lo AND hi` on an integer
    * column: files whose recorded [min, max] interval cannot intersect
    * [lo, hi] are never opened, and so are files whose null counts
    * record the column as ALL NULL (bounds-less but provably
    * value-free); files with no recorded stats are always read.
    * Multi-column zone maps prune on whichever recorded column the
    * probe names. */
  def readWhere(spark: SparkSession, v: Long, column: String,
      lo: Long, hi: Long): DataFrame =
    prunedRead(spark, v, s"$column in [$lo, $hi]", longCandidate(_, column, lo, hi),
      org.apache.spark.sql.functions.col(column).between(lo, hi))

  /** Data-skipping read on a NULLNESS predicate — `column IS NULL`
    * (isNull = true) or `column IS NOT NULL` — served from the per-file
    * null counts the stats harvest records: a null census never opens
    * the null-free files, a completeness scan never opens the all-null
    * ones. Files with no recorded null stats (pre-r14 logs, or columns
    * outside the stats set) are always read. */
  def readWhereNull(spark: SparkSession, v: Long, column: String,
      isNull: Boolean): DataFrame = {
    val c = org.apache.spark.sql.functions.col(column)
    prunedRead(spark, v, s"$column ${if (isNull) "IS NULL" else "IS NOT NULL"}",
      nullCandidate(_, column, isNull), if (isNull) c.isNull else c.isNotNull)
  }

  /** Data-skipping read on a STRING equality/IN predicate — the
    * `lang = 'en'` shape a corpus table actually filters on — under the
    * recorded truncated byte bounds (unsigned lexicographic, the
    * parquet BINARY stats order). */
  def readWhereIn(spark: SparkSession, v: Long, column: String,
      values: Seq[String]): DataFrame = {
    val vb = values.map(_.getBytes("UTF-8"))
    prunedRead(spark, v, s"$column IN (${values.mkString(", ")})",
      inCandidate(_, column, vb),
      org.apache.spark.sql.functions.col(column).isin(values: _*))
  }

  /** Data-skipping read on a STRING range predicate — the
    * `source BETWEEN 'a' AND 'b'` / prefix-scan shape over a table
    * clustered on the predicate column: a file is read when its
    * recorded truncated byte interval can OVERLAP the range (truncated
    * bounds are sound, so overlap-by-bounds is sound). */
  def readWhereBetween(spark: SparkSession, v: Long, column: String,
      lo: String, hi: String): DataFrame = {
    val loB = lo.getBytes("UTF-8")
    val hiB = hi.getBytes("UTF-8")
    require(ucmp(loB, hiB) <= 0, s"empty range ['$lo', '$hi']")
    prunedRead(spark, v, s"$column in ['$lo', '$hi']",
      rangeCandidate(_, column, loB, hiB),
      org.apache.spark.sql.functions.col(column).between(lo, hi))
  }

  // ------------------------------------------------------------------
  // Maintenance: z-order compaction and restore
  // ------------------------------------------------------------------

  /** OPTIMIZE ZORDER BY: rewrite the current snapshot clustered on the
    * Morton interleave of two integer columns, recording BOTH columns'
    * per-file min/max in the commit log — after which [[readWhere]] and
    * the DSv2 scan skip files on EITHER dimension, where a linear
    * clustering prunes only its sort key (`q_cluster_compare` measures
    * exactly this trade; this operation is the maintenance job that
    * buys it). Buckets are equal-width over each column's observed
    * range (swap in rank buckets for heavily skewed keys); the rewrite
    * is one range repartition on the morton key.
    *
    * Logically a no-op: the snapshot's rows are identical before and
    * after. Deletion vectors FOLD IN — the rewrite reads the
    * DV-subtracted snapshot and the new files start DV-clean, so
    * compaction is also the maintenance step that retires
    * merge-on-read debt. Older versions still resolve to the ORIGINAL
    * files, so time travel survives compaction.
    *
    * Concurrency: a lost commit race against a commit that touched any
    * compacted file (deleteWhere/overwrite/merge — re-committing the
    * rewrite would resurrect rows the winner removed and duplicate its
    * survivors) recomputes against the new head, dropping the staged
    * files. A DISJOINT interleave — the common case, a concurrent
    * APPEND — logically rebases instead: the staged rewrite re-commits
    * removing exactly the files it compacted, the appended files stay
    * live untouched, and no Spark job re-runs. That is the Delta
    * OPTIMIZE-does-not-conflict-with-appends rule; the appended files
    * are picked up by the NEXT compaction.
    *
    * Documented limitation: a clustering column whose OBSERVED span
    * exceeds the BIGINT range (lo near Long.MinValue AND hi near
    * Long.MaxValue, so hi - lo wraps negative) is refused with a
    * diagnosable error rather than bucketed with unsigned arithmetic —
    * full-span surrogate keys should be bucketed by their high bits
    * before clustering. Every narrower span (including the full
    * positive range) takes the overflow-free divide-first branch below.
    */
  def compactZOrder(spark: SparkSession, colA: String, colB: String,
      targetFiles: Int = 8, bits: Int = 8): Long = {
    import org.apache.spark.sql.functions.{col, expr, min, max}
    require(bits >= 1 && bits <= 16, s"bits $bits outside [1, 16]")
    def layout(snap: DataFrame): DataFrame = {
      val r = snap.agg(
        min(col(colA).cast("long")), max(col(colA).cast("long")),
        min(col(colB).cast("long")), max(col(colB).cast("long"))).head()
      require(!r.isNullAt(0) && !r.isNullAt(2),
        s"cannot z-order on '$colA'/'$colB': a clustering column is all NULL")
      val (aLo, aHi, bLo, bHi) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      require(aHi - aLo >= 0 && bHi - bLo >= 0,
        s"observed range of '$colA'/'$colB' exceeds the BIGINT span; " +
          "z-order bucketing needs hi - lo representable")
      val n = 1L << bits
      // Small ranges take the multiply-first cut ((v-lo)·n div range):
      // it uses the full bucket space. Ranges near 2^63/n would overflow
      // that product and silently degrade the rewrite to near-random
      // clustering (pruning stays sound — zone maps come from real
      // footers — but the layout win evaporates), so they fall back to
      // divide-first (bucket = (v-lo) div (range div n + 1)), which is
      // overflow-free but uses only k/(k+1) of the bucket space at
      // range ≈ k·n. width > range/n guarantees bucket <= n - 1 for any
      // in-range v; the clamp only guards values outside [lo, hi]
      // (impossible here, cheap insurance).
      def bucket(c: String, lo: Long, hi: Long): String = {
        val range = hi - lo
        val expr =
          if (range < Long.MaxValue / n)
            s"((CAST($c AS BIGINT) - ${lo}L) * ${n}L) div ${range + 1L}L"
          else {
            val width = math.max(1L, range / n + 1L)
            s"(CAST($c AS BIGINT) - ${lo}L) div ${width}L"
          }
        s"least(${n - 1}L, greatest(0L, $expr))"
      }
      def spread(c: String): String = graft.functions.MortonSql.spread(c)
      snap
        .withColumn("_bx", expr(bucket(colA, aLo, aHi)))
        .withColumn("_by", expr(bucket(colB, bLo, bHi)))
        .withColumn("_mz", expr(s"(${spread("_bx")}) | ((${spread("_by")}) * 2)"))
        .repartitionByRange(targetFiles, col("_mz"))
        .drop("_bx", "_by", "_mz")
    }
    var staged: Option[(TableState, Seq[String], Seq[String])] = None
    var committed = -1L
    while (committed < 0) {
      val head = version
      require(head >= 0, "nothing to compact")
      val st = stateAt(head) // ONE fold per attempt
      val (removes, adds) = staged match {
        case Some((base, r, a)) if untouchedBetween(base, st, r) => (r, a)
        case _ =>
          staged.foreach { case (_, _, a) => dropStaged(a) }
          staged = None
          cowJobRuns.incrementAndGet()
          val r = st.adds.keys.toSeq
          val a = stageMulti(spark, layout(readState(spark, st, s"version $head")),
            Seq(colA, colB))
          staged = Some((st, r, a))
          (r, a)
      }
      val metaL = st.schemaB64.map(s => metaLine("zorder", decodeSchema(s)))
        .getOrElse("""{"op":"meta","operation":"zorder"}""")
      onCowCommitAttempt()
      if (commit(head + 1, metaL +: (removes.map(removeLine) ++ adds))) committed = head + 1
    }
    committed
  }

  /** RESTORE TO VERSION AS OF: roll the head back to exactly version
    * `toVersion`'s snapshot as a NEW commit — the rollback after a bad
    * ingest, merge, or re-freeze. Pure metadata: live files the two
    * versions share are left untouched, the head's extras are removed,
    * `toVersion`'s missing files are re-added BY REFERENCE, replaying
    * their ORIGINAL add actions so zone maps ride along and post-restore
    * pruning stays as selective as it was at `toVersion` — and each
    * surviving file's DELETION VECTOR is reset to its `toVersion` state
    * (a `dvset` per file whose DV differs), so merge-on-read deletes
    * roll back and forward exactly like file-level state. No data file
    * is moved or rewritten — O(log) work at any table size — and the
    * undone window remains time-travelable (the restore is itself a
    * commit). Lost commit races rebase — the remove set is recomputed
    * against the new head while the restore target stays pinned. Fails
    * if the target's files are missing on disk. A legitimately-EMPTY
    * snapshot (e.g. right after a delete-all) is restorable, matching
    * Delta's RESTORE: every head file becomes a remove. */
  def restore(toVersion: Long): Long = {
    val target = stateAt(toVersion)
    val adds = target.adds
    adds.keys.foreach { n =>
      require(Files.exists(dataDir.resolve(n)),
        s"version $toVersion data file $n is missing; cannot restore")
    }
    target.dv.values.foreach {
      case DvSidecar(n, _) =>
        require(Files.exists(dataDir.resolve(n)),
          s"version $toVersion DV sidecar $n is missing; cannot restore")
      case _ => ()
    }
    val metaL = target.schemaB64.map(s => metaLine("restore", decodeSchema(s)))
      .getOrElse("""{"op":"meta","operation":"restore"}""")
    var committed = -1L
    while (committed < 0) {
      val head = version
      require(toVersion <= head, s"version $toVersion outside [0, $head]")
      val headSt = stateAt(head)
      val headNames = headSt.adds.keySet
      val removes = headNames.toSeq.filterNot(adds.contains)
      val readds = adds.filterNot { case (n, _) => headNames.contains(n) }
      // DV reconciliation: after the replayed adds, every re-added file
      // is DV-clean and every kept file carries the HEAD's DV — emit a
      // dvset wherever the target DESCRIPTOR differs (descriptor-level
      // compare: no positions are materialized; a sidecar re-commits by
      // reference, exactly like a data file). A target with no vector
      // clears via the empty-positions spelling.
      val dvFixes = adds.keys.toSeq.flatMap { f =>
        val want = target.dv.get(f)
        val have = if (headNames.contains(f)) headSt.dv.get(f) else None
        if (want == have) None
        else Some(want.map(dvsetLine(f, _))
          .getOrElse(s"""{"op":"dvset","file":"$f","positions":""}"""))
      }
      val actions = metaL +:
        (removes.map(removeLine) ++
          readds.values ++ dvFixes)
      if (commit(head + 1, actions)) committed = head + 1
    }
    committed
  }

  /** Change feed between two snapshots — the incremental-consumer read
    * (downstream dedup admission, index refresh, cache invalidation)
    * that replaces a full snapshot diff. Identity is FILE-granular for
    * file churn and POSITION-granular for deletion vectors:
    *   - File churn diffs the two live sets (a file added AND removed
    *     inside the window is net invisible, matching the snapshot
    *     algebra). Row-exact for append/overwrite/delete windows; a
    *     REWRITE commit in the window (merge/compact/zorder) emits its
    *     carried-over rows as both `delete` (old file) and `insert`
    *     (new file) — the standard file-CDC contract; consumers needing
    *     row-level merge semantics reconcile on their key.
    *   - Merge-on-read deletes surface positionally and exactly: rows
    *     whose deletion vector grew across the window are `delete`,
    *     rows a restore un-deleted are `insert`. Removed files are read
    *     minus their `fromV` DV (rows already deleted then were never
    *     visible in the window); added files minus their `toV` DV.
    */
  def changesBetween(spark: SparkSession, fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV && toV <= version,
      s"window ($fromV, $toV] outside history [0, $version]")
    val stTo = stateAt(toV)
    val stFrom = if (fromV < 0) new TableState else stateAt(fromV)
    val liveTo = stTo.adds.keySet
    val liveFrom = stFrom.adds.keySet
    val added = stTo.adds.keys.toSeq.filterNot(liveFrom.contains)
    val removed = stFrom.adds.keys.toSeq.filterNot(liveTo.contains)
    val kept = stTo.adds.keys.toSeq.filter(liveFrom.contains)
    // DV diffs are computed ON THE EXECUTORS: each side's descriptors
    // expand into a distributed (file, pos) frame (sidecars read
    // task-side) and the two set differences are plain distributed
    // EXCEPTs — a CDC window over a bulk merge-on-read delete never
    // funnels its positions through the driver, matching the read
    // path's discipline. Only files whose descriptor CHANGED in the
    // window participate. One narrow contract note: a window whose
    // descriptors changed without any net position change (possible
    // only through an inline→sidecar rewrite of identical positions)
    // yields empty positional feeds rather than being detected as
    // change-free up front.
    val changedDv = kept.filter(f => stTo.dv.get(f) != stFrom.dv.get(f))
    def sideDescs(st: TableState): Seq[(String, String, Array[Long])] =
      changedDv.map { f =>
        val (ref, inline) = descForm(st.dv.get(f))
        (f, ref, inline)
      }.filter { case (_, ref, inline) => ref.nonEmpty || inline.nonEmpty }
    val dvBound = changedDv.map { f =>
      stFrom.dv.get(f).map(_.cardinality).getOrElse(0L) +
        stTo.dv.get(f).map(_.cardinality).getOrElse(0L)
    }.sum
    import org.apache.spark.sql.functions.lit
    // both sides read under the window-end schema: deletes from an older
    // layout null-fill columns born later, mirroring the snapshot reads
    val sch = stTo.schemaB64.map(decodeSchema)
    def tagged(df: Option[DataFrame], tag: String): Option[DataFrame] =
      df.map(_.withColumn("_change_type", lit(tag)))
    def fileRead(names: Seq[String],
        dv: scala.collection.Map[String, DvDesc]): Option[DataFrame] =
      if (names.isEmpty) None
      else Some(readFiles(spark,
        names.map(n => dataDir.resolve(n).toString), sch, dv))
    // grown = positions deleted inside the window; shrunk = positions a
    // restore un-deleted — both as distributed pair frames. A side with
    // no vectors at all skips its feed (the common delete-only and
    // restore-only windows plan ONE scan, no EXCEPT); a mixed window
    // evaluates each feed's two pair expansions per action — acceptable
    // because a CDC consumer reads each feed once.
    val (grownFeed, shrunkFeed) =
      if (changedDv.isEmpty) (None, None)
      else {
        val fromDescs = sideDescs(stFrom)
        val toDescs = sideDescs(stTo)
        lazy val fromPairs = expandDvPairs(spark, fromDescs)
        lazy val toPairs = expandDvPairs(spark, toDescs)
        val grown =
          if (toDescs.isEmpty) None // to-side empty → nothing newly deleted
          else Some(if (fromDescs.isEmpty) toPairs else toPairs.except(fromPairs))
        val shrunk =
          if (fromDescs.isEmpty) None // from-side empty → nothing restored
          else Some(if (toDescs.isEmpty) fromPairs else fromPairs.except(toPairs))
        (grown.map(readOnlyPositions(spark, sch, changedDv, _, dvBound)),
          shrunk.map(readOnlyPositions(spark, sch, changedDv, _, dvBound)))
      }
    val inserts = (fileRead(added, stTo.dv).toSeq ++
      shrunkFeed.toSeq).reduceOption(_ unionByName _)
    val deletes = (fileRead(removed, stFrom.dv).toSeq ++
      grownFeed.toSeq).reduceOption(_ unionByName _)
    (tagged(inserts, "insert"), tagged(deletes, "delete")) match {
      case (Some(a), Some(r)) => a.unionByName(r)
      case (Some(a), None) => a
      case (None, Some(r)) => r
      case (None, None) =>
        throw new IllegalArgumentException(
          s"window ($fromV, $toV] contains no changes")
    }
  }
}

private[sources] object VersionedTable {
  private val FileRe = "\"file\":\"([^\"]+)\"".r
  private val SchemaRe = "\"schemaB64\":\"([^\"]+)\"".r
  private val DvPosRe = "\"positions\":\"([^\"]*)\"".r
  private val DvRefRe = "\"dvref\":\"([^\"]+)\",\"card\":(\\d+)".r

  /** fmt:2 binary checkpoint magic ("GCP2"). A future fmt:3 picks a new
    * magic; this reader then skips it (parse gate), never mis-parses. */
  private[sources] val CpMagic2 = 0x47435032

  /** DV sidecar magic ("GDV1"). */
  private[sources] val DvMagic1 = 0x47445631

  /** Cumulative deleted-position count above which the library read
    * path stops BROADCASTING the (file, pos) anti-join side and lets it
    * shuffle instead (~4M positions ≈ tens of MB of pairs — past that a
    * broadcast taxes every executor and ultimately the driver, while a
    * shuffled anti-join scales with the cluster). Known up front from
    * the log's descriptors, so the choice costs nothing. */
  private[sources] val DvBroadcastMaxPositions = 4L << 20

  /** The shared async checkpoint writer: a SMALL bounded daemon pool
    * for the whole JVM (checkpoints are rare — every interval-th
    * commit — and best-effort; a fixed pool keeps the thread count
    * flat however many table instances a job touches, while a second
    * thread stops one slow table's checkpoint — a stuck FS write —
    * from serializing every OTHER table's checkpoints behind it).
    * Cross-table coupling remains at pool width: `awaitCheckpoints`
    * on one table can wait behind at most the pool's in-flight writes
    * for other tables, never behind an unbounded queue of them.
    * Concurrent checkpoints of the SAME version are safe — the write
    * is idempotent put-if-absent. */
  private[sources] val cpPool: java.util.concurrent.ExecutorService = {
    val n = new java.util.concurrent.atomic.AtomicLong(0L)
    java.util.concurrent.Executors.newFixedThreadPool(2, r => {
      val t = new Thread(r, s"graft-checkpoint-writer-${n.getAndIncrement()}")
      t.setDaemon(true)
      t
    })
  }

  /** Write one DV sidecar: sorted positions, RANGE-RUN encoded (runs of
    * consecutive positions collapse to (start, length) pairs — a
    * contiguous bulk delete of 10⁷ rows is a handful of longs; the
    * worst case, fully scattered needles, is 2 longs per position).
    * Called ON THE EXECUTORS by [[VersionedTable.deleteRowsWhere]]'s
    * per-file tasks; the file is invisible until a commit references
    * it, the same staging contract data files use. */
  private[sources] def writeDvSidecar(path: Path, sorted: Array[Long]): Unit = {
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      Files.newOutputStream(path)))
    try {
      out.writeInt(DvMagic1)
      // runs count up front so the reader sizes its buffers exactly
      var runs = 0
      var i = 0
      while (i < sorted.length) {
        var j = i + 1
        while (j < sorted.length && sorted(j) == sorted(j - 1) + 1) j += 1
        runs += 1
        i = j
      }
      out.writeInt(runs)
      i = 0
      while (i < sorted.length) {
        var j = i + 1
        while (j < sorted.length && sorted(j) == sorted(j - 1) + 1) j += 1
        out.writeLong(sorted(i))
        out.writeLong((j - i).toLong)
        i = j
      }
    } finally out.close()
  }

  /** Read one DV sidecar back into sorted positions. Called task-side
    * by the readers (DSv2 partition reader, the broadcast-pair
    * expansion, deleteRowsWhere's merge tasks). */
  private[sources] def readDvSidecar(path: Path): Array[Long] = {
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      Files.newInputStream(path)))
    try {
      require(in.readInt() == DvMagic1, s"not a graft DV sidecar: $path")
      val runs = in.readInt()
      val buf = scala.collection.mutable.ArrayBuilder.make[Long]
      var r = 0
      while (r < runs) {
        val start = in.readLong()
        val len = in.readLong()
        var k = 0L
        while (k < len) { buf += start + k; k += 1L }
        r += 1
      }
      buf.result()
    } finally in.close()
  }

  /** Sorted set difference a \ b — the GROWN positions of a deletion
    * vector across one commit (new vector minus prior), computed
    * task-side by the streaming change feed. Linear two-pointer walk. */
  private[sources] def diffSorted(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = scala.collection.mutable.ArrayBuilder.make[Long]
    out.sizeHint(a.length)
    var i = 0; var j = 0
    while (i < a.length) {
      while (j < b.length && b(j) < a(i)) j += 1
      if (j >= b.length || b(j) != a(i)) out += a(i)
      i += 1
    }
    out.result()
  }

  /** Merge two sorted DISJOINT position arrays (the fresh matches were
    * scanned with the prior vector already subtracted). */
  private[sources] def mergeSorted(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](a.length + b.length)
    var i = 0; var j = 0; var k = 0
    while (i < a.length && j < b.length) {
      if (a(i) <= b(j)) { out(k) = a(i); i += 1 } else { out(k) = b(j); j += 1 }
      k += 1
    }
    while (i < a.length) { out(k) = a(i); i += 1; k += 1 }
    while (j < b.length) { out(k) = b(j); j += 1; k += 1 }
    out
  }
  private val SingleStatRe = "\"col\":\"([^\"]+)\",\"min\":(-?\\d+),\"max\":(-?\\d+)".r
  private val SingleStrStatRe = "\"scol\":\"([^\"]+)\",\"smin\":\"([^\"]*)\",\"smax\":\"([^\"]*)\"".r
  private val MultiStatRe = "\"multi\":\"([^\"]+)\"".r

  /** Truncated-bound cap for string zone maps: bounds longer than this
    * are cut (min: plain prefix, a sound lower bound under unsigned
    * lexicographic order; max: prefix with its last non-0xFF byte
    * incremented, a sound upper bound) so a corpus of 100-KB documents
    * never bloats the commit log with full values. */
  private val StrStatCap = 64

  private[sources] val DvFileCol = "__graft_dv_file"
  private[sources] val DvPosCol = "__graft_dv_pos"

  private[sources] def b64(b: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(b)
  private[sources] def unb64(s: String): Array[Byte] =
    java.util.Base64.getDecoder.decode(s)

  /** Unsigned lexicographic byte comparison — the order parquet BINARY
    * statistics use, and therefore the only sound comparator for the
    * recorded string bounds. */
  private[sources] def ucmp(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xFF) - (b(i) & 0xFF)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** A prefix is always <= the full value (unsigned lex): sound min. */
  private[sources] def truncMin(b: Array[Byte]): Array[Byte] =
    if (b.length <= StrStatCap) b else java.util.Arrays.copyOf(b, StrStatCap)

  /** Sound truncated UPPER bound: cut to the cap, then increment the
    * last byte that is < 0xFF and drop everything after it — the result
    * is strictly greater than every value sharing the prefix. All-0xFF
    * prefixes are un-incrementable: no sound bound exists, record
    * nothing (None → the file is always a candidate, still sound). */
  private[sources] def truncMax(b: Array[Byte]): Option[Array[Byte]] = {
    if (b.length <= StrStatCap) return Some(b)
    val p = java.util.Arrays.copyOf(b, StrStatCap)
    var i = p.length - 1
    while (i >= 0 && (p(i) & 0xFF) == 0xFF) i -= 1
    if (i < 0) None
    else {
      val out = java.util.Arrays.copyOf(p, i + 1)
      out(i) = (out(i) + 1).toByte
      Some(out)
    }
  }

  /** Integer zone maps recorded on an add action (legacy single-stat
    * field or the packed `multi` form; `s:`-tagged string entries are
    * skipped here and served by [[strStatsOf]]). */
  private[sources] def longStatsOf(line: String): Seq[(String, (Long, Long))] = {
    val m = MultiStatRe.findFirstMatchIn(line).map(_.group(1).split('|').toSeq
      .flatMap { part =>
        val fields = part.split(',')
        if (fields.length == 3 && !fields(1).startsWith("s:"))
          Some((fields(0), (fields(1).toLong, fields(2).toLong)))
        else None
      })
    val s = SingleStatRe.findFirstMatchIn(line).map(mm =>
      Seq((mm.group(1), (mm.group(2).toLong, mm.group(3).toLong))))
    m.orElse(s).getOrElse(Nil)
  }

  private val RowsRe = "\"rows\":(\\d+)".r
  private val NullsRe = "\"nulls\":\"([^\"]*)\"".r
  private val BytesRe = "\"bytes\":(\\d+)".r

  /** On-disk byte size recorded on an add action (the r15 additive
    * field — pre-r15 logs read unchanged and fall back to per-file
    * `Files.size` where a consumer needs sizes). */
  private[sources] def byteStatsOf(line: String): Option[Long] =
    BytesRe.findFirstMatchIn(line).map(_.group(1).toLong)

  /** Null-count stats recorded on an add action: (file row count,
    * column → null count). None for pre-r14 logs — no null pruning
    * possible there, which is sound (absent stats never skip). */
  private[sources] def nullStatsOf(line: String): Option[(Long, Map[String, Long])] =
    RowsRe.findFirstMatchIn(line).map { m =>
      val nulls = NullsRe.findFirstMatchIn(line).map(_.group(1)
        .split(';').toSeq.filter(_.nonEmpty).map { kv =>
          val i = kv.lastIndexOf(':')
          (kv.take(i), kv.drop(i + 1).toLong)
        }.toMap).getOrElse(Map.empty[String, Long])
      (m.group(1).toLong, nulls)
    }

  /** True when the add action RECORDS that `column` is entirely NULL in
    * the file — the all-null blind-spot fix: such a file has no bounds
    * (parquet stats carry no min/max for it) yet is provably
    * unmatchable by ANY value predicate on the column, so the pruned
    * readers skip it instead of treating bounds-less as
    * always-a-candidate. Unrecorded stats → false (never skip). */
  private[sources] def allNullOn(line: String, column: String): Boolean =
    allNullIn(nullStatsOf(line), column)

  /** [[allNullOn]] over an ALREADY-PARSED stats record — the form the
    * DSv2 scan uses so a multi-clause predicate parses each add line's
    * null stats once, not once per clause. */
  private[sources] def allNullIn(ns: Option[(Long, Map[String, Long])],
      column: String): Boolean =
    ns.exists { case (rows, nulls) =>
      rows > 0 && nulls.get(column).contains(rows)
    }

  /** Zone-map candidate test for `column BETWEEN lo AND hi` on an
    * integer column: a file is skipped only when its recorded interval
    * provably misses, or its null counts record the column as ALL NULL
    * (no bounds exist, but no value can match either). No stats on the
    * column → always a candidate (sound). */
  private[sources] def longCandidate(line: String, column: String,
      lo: Long, hi: Long): Boolean =
    longStatsOf(line).toMap.get(column)
      .map { case (fLo, fHi) => fHi >= lo && fLo <= hi }
      .getOrElse(!allNullOn(line, column))

  /** String zone-map candidate test for `column IN (values)` (values as
    * UTF-8 bytes): the recorded truncated byte interval must be able to
    * contain one of them, unsigned lexicographic. */
  private[sources] def inCandidate(line: String, column: String,
      values: Seq[Array[Byte]]): Boolean =
    strStatsOf(line).toMap.get(column)
      .map { case (mn, mx) => values.exists(x => ucmp(mn, x) <= 0 && ucmp(x, mx) <= 0) }
      .getOrElse(!allNullOn(line, column))

  /** String zone-map candidate test for `column BETWEEN lo AND hi`: the
    * recorded truncated byte interval must OVERLAP [loB, hiB]. */
  private[sources] def rangeCandidate(line: String, column: String,
      loB: Array[Byte], hiB: Array[Byte]): Boolean =
    strStatsOf(line).toMap.get(column)
      .map { case (mn, mx) => ucmp(mn, hiB) <= 0 && ucmp(loB, mx) <= 0 }
      .getOrElse(!allNullOn(line, column))

  /** Candidate test for an IS NULL / IS NOT NULL probe on `column`,
    * from RECORDED null counts only (absent stats → candidate, sound):
    * IS NULL skips zero-null files, IS NOT NULL skips all-null files. */
  private[sources] def nullCandidate(line: String, column: String,
      isNull: Boolean): Boolean =
    nullCandidateIn(nullStatsOf(line), column, isNull)

  /** [[nullCandidate]] over an already-parsed stats record. */
  private[sources] def nullCandidateIn(ns: Option[(Long, Map[String, Long])],
      column: String, isNull: Boolean): Boolean =
    ns match {
      case Some((rows, nulls)) => nulls.get(column) match {
        case Some(n) => if (isNull) n > 0 else n < rows
        case None => true
      }
      case None => true
    }

  /** String zone maps recorded on an add action (single `scol` form or
    * `s:`-tagged `multi` entries), decoded to raw bound bytes. */
  private[sources] def strStatsOf(line: String): Seq[(String, (Array[Byte], Array[Byte]))] = {
    val m = MultiStatRe.findFirstMatchIn(line).map(_.group(1).split('|').toSeq
      .flatMap { part =>
        val fields = part.split(',')
        if (fields.length == 3 && fields(1).startsWith("s:"))
          Some((fields(0), (unb64(fields(1).drop(2)), unb64(fields(2).drop(2)))))
        else None
      })
    val s = SingleStrStatRe.findFirstMatchIn(line).map(mm =>
      Seq((mm.group(1), (unb64(mm.group(2)), unb64(mm.group(3))))))
    m.orElse(s).getOrElse(Nil)
  }

  private[sources] def decodeSchema(b64s: String): StructType =
    DataType.fromJson(new String(java.util.Base64.getDecoder.decode(b64s), "UTF-8"))
      .asInstanceOf[StructType]
}
