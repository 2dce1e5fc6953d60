package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.SparkEntry
import graft.model.Tables
import graft.streaming.{AlertSink, Pipeline, SnapshotSink}

/** One benchmark run in one JVM: drives the engine from outside through
  * `SparkEntry.queries`, `streaming.Pipeline`, the snapshot/alert sinks and
  * the `ReplaySourceProvider` stream source, and writes the raw samples to
  * `<out>/raw.json` for `run.py` to reduce into metrics.
  *
  * Usage: Runner <workload> <dataDir> <outDir> <seconds> <trace 0|1> <seed>
  *   <cpus> <key=value ...>
  */
object Runner {

  final case class Op(id: Long, query: String, phase: String, startMs: Double,
      buildMs: Double, execMs: Double, err: Option[String], var digest: String = "",
      var codegenMs: Double = 0, var storedMb: Double = 0)

  final case class Batch(phase: String, id: Long, doneMs: Double, snapshotMs: Double,
      alertMs: Double, enrichMs: Double, storedMb: Double)

  def main(args: Array[String]): Unit = {
    val Array(workload, data, out, seconds, trace, seed, cpus) = args.take(7)
    val params = args.drop(7).map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    new Runner(workload, data, out, seconds.toDouble, trace == "1", seed.toLong,
      cpus.toInt, params).run()
  }

  /** Order-preserving md5 of a collected result plus its row count. */
  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r.toString + "\n").getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString + s":${rows.length}"
  }

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def jnum(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}

final class Runner(workload: String, data: String, out: String, seconds: Double,
    traced: Boolean, seed: Long, cpus: Int, params: Map[String, String]) {
  import Runner._

  private val rng = new Random(seed)
  private val work = new File(out).getAbsolutePath
  private var spark: SparkSession = _
  private var probe: Option[Probe] = None
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val batches = mutable.ArrayBuffer.empty[Batch]
  private val progress = mutable.ArrayBuffer.empty[(String, Long, Double, Long, Map[String, Long])]
  private val extra = mutable.LinkedHashMap.empty[String, String]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private var nextOp = 0L

  private def list(key: String): Vector[String] =
    params.getOrElse(key, "").split(",").filter(_.nonEmpty).toVector
  private def num(key: String): Int = params(key).toInt

  private def newSession(): SparkSession = {
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val at = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        progress.synchronized(progress += ((p.name, p.batchId, at, p.numInputRows, d)))
      }
    })
    spark = s
    s
  }

  private def storedMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  // ---------------------------------------------------------------- queries

  /** One query op: build the DataFrame, then run it into the noop sink. Both
    * steps are timed; the result digest is taken afterwards, untimed. */
  private def runQuery(q: String, phase: String, check: Boolean): Op = {
    nextOp += 1
    val id = nextOp
    val sc = spark.sparkContext
    sc.setJobGroup(s"op-$id", q, interruptOnCancel = false)
    val cg0 = CodeGenerator.compileTime
    val t0 = Clock.nowMs
    var t1 = t0
    var df: DataFrame = null
    val err =
      try {
        df = SparkEntry.queries(q)(spark, data)
        t1 = Clock.nowMs
        df.write.format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable =>
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    val t2 = Clock.nowMs
    val op = Op(id, q, phase, t0, t1 - t0, t2 - t1, err)
    probe.foreach { p =>
      op.codegenMs = (CodeGenerator.compileTime - cg0) / 1e6
      p.opWindow(id, t0, t2)
      p.span("op", t0, t2, id)
      p.span("op.build", t0, t1, id)
      if (err.isEmpty) p.span("op.exec", t1, t2, id)
    }
    sc.clearJobGroup()
    if (check && err.isEmpty) {
      op.storedMb = storedMb()
      op.digest =
        try resultDigest(q, df)
        catch { case e: Throwable => s"error: ${e.getClass.getSimpleName}" }
    }
    ops += op
    op
  }

  private val dumped = mutable.Set.empty[String]

  /** Digests a collect of the result; the first checked run of each query
    * also writes the collected rows as parquet for the oracle comparison in
    * run.py. */
  private def resultDigest(q: String, df: DataFrame): String = {
    val rows = df.collect()
    if (dumped.add(q))
      spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$work/results/$q")
    digest(rows)
  }

  private def openTables(): Unit =
    Tables.tableNames.foreach(t => Tables.table(spark, data, t).schema)

  private def shuffled(qs: Vector[String]): Vector[String] = rng.shuffle(qs)

  private def batchCold(): Unit = {
    val qs = list("queries")
    newSession()
    openTables()
    runQuery(params("warmup"), "setup", check = false)
    startProbe()
    if (traced) {
      val t = (1 to 5).map { _ => val t0 = Clock.nowMs; openTables(); Clock.nowMs - t0 }
      extra("tables_open_ms") = jnum(t.sorted.apply(2))
    }
    // every cold result meets the oracle; the first warm pass must give the
    // same digests, so a result that depends on session history fails
    shuffled(qs).foreach(q => runQuery(q, "cold", check = true))
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 0
    while (pass < num("min_warm_passes") || System.nanoTime() < deadline) {
      pass += 1
      shuffled(qs).foreach(q => runQuery(q, s"warm$pass", check = pass == 1))
    }
    extra("cached_end_mb") = jnum(storedMb())
  }

  // ---------------------------------------------------------------- stream

  /** Start-to-first-batch time of every streaming query the run starts. */
  private val coldStarts = mutable.ArrayBuffer.empty[Double]

  /** ReplaySource -> Pipeline.process -> foreachBatch that persists the
    * micro-batch and feeds both sinks, as `AlertSink.attachWithSnapshot`
    * does, with each sink call timed. */
  private def startStream(name: String, spool: String, rowsPerBatch: Int, trigger: Trigger,
      snapshot: SnapshotSink, alerts: AlertSink, record: Boolean) = {
    val started = Clock.nowMs
    val raw = spark.readStream.format("graft.sources.ReplaySourceProvider")
      .option("path", spool).option("rowsPerBatch", rowsPerBatch.toString).load()
    Pipeline.process(raw).writeStream
      .queryName(name)
      .outputMode("append")
      .option("checkpointLocation", s"$work/checkpoints/$name")
      .trigger(trigger)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        b.persist()
        if (record && traced)
          spark.sparkContext.setJobGroup(s"op-${streamOp(name, id)}", name, interruptOnCancel = false)
        try {
          val t0 = Clock.nowMs
          if (record && traced) b.count()
          val t1 = Clock.nowMs
          snapshot.update(b, id)
          val t2 = Clock.nowMs
          alerts.update(b, id)
          val t3 = Clock.nowMs
          if (id == 0) coldStarts.synchronized(coldStarts += t3 - started)
          if (record) {
            val mb = storedMb()
            batches.synchronized(batches += Batch(name, id, t3, t2 - t1, t3 - t2, t1 - t0, mb))
            probe.foreach { p =>
              val op = streamOp(name, id)
              if (traced) p.span("stream.enrich", t0, t1, op)
              p.span("sink.snapshot", t1, t2, op)
              p.span("sink.alert", t2, t3, op)
            }
          }
        } finally b.unpersist()
      }
      .start()
  }

  private def streamOp(name: String, id: Long): Long =
    (if (name == "paced") 1000000L else 2000000L) + id

  private def stream(): Unit = {
    val rows = num("rows_per_batch")
    newSession()
    val warmup = startStream("warmup", s"$data/warmup.jsonl", rows, Trigger.ProcessingTime(0L),
      new SnapshotSink(s"$work/warmup-snapshot"), new AlertSink(), record = false)
    warmup.processAllAvailable()
    warmup.stop()
    startProbe()
    val snapshot = new SnapshotSink(s"$work/snapshot")
    val alerts = new AlertSink()
    val intervalMs = num("interval_ms")
    val paced = startStream("paced", s"$data/paced.jsonl", rows,
      Trigger.ProcessingTime(intervalMs.toLong), snapshot, alerts, record = true)
    paced.processAllAvailable()
    paced.stop()
    val t0 = Clock.nowMs
    val drain = startStream("drain", s"$data/drain.jsonl", num("drain_rows_per_batch"),
      Trigger.ProcessingTime(0L), snapshot, alerts, record = true)
    drain.processAllAvailable()
    drain.stop()
    extra("drain_s") = jnum((Clock.nowMs - t0) / 1000)
    extra("interval_ms") = intervalMs.toString
    extra("cold_starts_ms") = coldStarts.map(jnum).mkString("[", ",", "]")
    checkStream(snapshot, alerts)
  }

  /** The final ring buffer and alert log must equal what batch
    * `Pipeline.process` over the same spool gives. */
  private def checkStream(snapshot: SnapshotSink, alerts: AlertSink): Unit = {
    val keep = Seq("id", "author", "subreddit", "title", "risk_score", "score",
      "num_comments", "timestamp")
    def key(r: Row): String = keep.map(k => String.valueOf(r.get(r.fieldIndex(k)))).mkString("|")
    val all = Pipeline.process(
      spark.read.text(s"$data/paced.jsonl", s"$data/drain.jsonl").toDF("value"))
      .select(keep.map(col): _*).orderBy("timestamp", "id").collect().map(key)
    val risky = Pipeline.process(
      spark.read.text(s"$data/paced.jsonl", s"$data/drain.jsonl").toDF("value"))
      .filter(col("risk_score") >= 30)
      .select(keep.map(col): _*).orderBy("timestamp", "id").collect().map(key)
    def cmp(name: String, got: Seq[String], want: Seq[String]): Unit = {
      val ok = got == want
      val at = got.zipAll(want, "<none>", "<none>").indexWhere { case (a, b) => a != b }
      checks += ((name, ok, if (ok) s"${got.size} rows" else
        s"${got.size} vs ${want.size} rows; first difference at $at"))
    }
    cmp("snapshot", snapshot.snapshotRows.map(key), all.takeRight(100).toSeq)
    cmp("alerts", alerts.alertRows.map(key), risky.takeRight(1000).toSeq)
    extra("spool_rows") = all.length.toString
    extra("alert_rows") = risky.length.toString
  }

  // ---------------------------------------------------------------- output

  private var gc0 = 0L
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def startProbe(): Unit = {
    extra("ready_ms") = jnum(Clock.nowMs)
    gc0 = gcMs
    if (traced) probe = Some(new Probe(spark))
  }

  def run(): Unit = {
    val processStart = ManagementFactory.getRuntimeMXBean.getStartTime
    workload match {
      case "stream_replay" => stream()
      case "batch_cold" => batchCold()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    extra("gc_ms") = (gcMs - gc0).toString
    val spans = probe.map(_.finish()).getOrElse(Nil)
    val sb = new StringBuilder("{")
    sb ++= s""""workload":${jstr(workload)},"traced":$traced,"process_start_ms":$processStart,"""
    sb ++= extra.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("", ",", ",")
    sb ++= """"checks":""" + checks.map { case (n, ok, d) =>
      s"""{"name":${jstr(n)},"ok":$ok,"detail":${jstr(d)}}""" }.mkString("[", ",", "],")
    sb ++= """"ops":""" + ops.map { o =>
      val c = probe.map(_.countersOf(o.id))
      val counters = c.fold("") { c =>
        s""","codegen_ms":${jnum(o.codegenMs)},"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"exchanges":${c.exchanges},"task_run_ms":${jnum(c.runMs)},"task_cpu_ms":${jnum(c.cpuMs)},"shuffle_read":${jnum(c.shuffleRead)},"shuffle_write":${jnum(c.shuffleWrite)},"spill":${jnum(c.spill)}""" }
      s"""{"id":${o.id},"query":${jstr(o.query)},"phase":${jstr(o.phase)},"start_ms":${jnum(o.startMs)},"build_ms":${jnum(o.buildMs)},"exec_ms":${jnum(o.execMs)},"error":${o.err.fold("null")(jstr)},"digest":${jstr(o.digest)},"stored_mb":${jnum(o.storedMb)}$counters}"""
    }.mkString("[", ",\n", "],")
    sb ++= """"batches":""" + batches.map { b =>
      s"""{"phase":${jstr(b.phase)},"id":${b.id},"done_ms":${jnum(b.doneMs)},"snapshot_ms":${jnum(b.snapshotMs)},"alert_ms":${jnum(b.alertMs)},"enrich_ms":${jnum(b.enrichMs)},"stored_mb":${jnum(b.storedMb)}}"""
    }.mkString("[", ",\n", "],")
    sb ++= """"progress":""" + progress.synchronized(progress.toVector).map { case (n, id, at, rows, d) =>
      s"""{"phase":${jstr(n)},"id":$id,"trigger_ms":${jnum(at)},"rows":$rows,"durations":""" +
        d.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}") + "}"
    }.mkString("[", ",\n", "],")
    sb ++= """"spans":""" + spans.map { s =>
      s"""[${jstr(s.name)},${jnum(s.startMs)},${jnum(s.endMs)},${s.op}]""" }.mkString("[", ",\n", "]")
    sb ++= "}"
    Files.write(Paths.get(s"$work/raw.json"), sb.toString.getBytes(UTF_8))
    val oracle = dumped.toSeq.sorted.map(q => s"${jstr(q)}:${jstr(SparkEntry.oracleSql(q))}")
    Files.write(Paths.get(s"$work/oracle_sql.json"), oracle.mkString("{", ",\n", "}").getBytes(UTF_8))
    spark.stop()
  }
}
