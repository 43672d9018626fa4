package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.apache.spark.sql.util.QueryExecutionListener

/** JVM side of the archive benchmark. `run.py` generates the inputs and
  * writes a properties file; this program drives the engine's public entry
  * points over those inputs only, times each phase, and writes
  * `result.json` (plus `spans.jsonl` when tracing) into the run directory.
  *
  * Usage: Harness <run.properties>
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val p = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)), UTF_8)
    try p.load(in) finally in.close()
    val conf = p.asScala.toMap
    val runDir = conf("run_dir")
    val tracer = new Tracer(conf("trace") == "1")
    val out = new Result
    val spark = tracer("GraftSession.builder.getOrCreate", "session") {
      graft.GraftSession.builder(conf("cpus"))
        .config("spark.local.dir", conf("spark_local_dir"))
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .getOrCreate()
    }
    out("ready_epoch_ms") = System.currentTimeMillis()
    spark.sparkContext.setLogLevel("WARN")
    val probes = Probes.register(spark)
    try conf("workload") match {
      case "probe"    => ()
      case "ingest"   => Ingest.run(spark, conf, tracer, probes, out)
      case "backfill" => Backfill.run(spark, conf, tracer, probes, out)
      case "query"    => Query.run(spark, conf, tracer, probes, out)
    } catch { case e: Throwable =>
      out("fatal") = s"${e.getClass.getName}: ${e.getMessage}"
      e.printStackTrace()
    }
    out("peak_heap_mb") = LiveHeap.peakMb
    spark.stop()
    if (tracer.on) tracer.write(s"$runDir/spans.jsonl")
    Files.writeString(Paths.get(s"$runDir/result.json"), out.json)
  }

  def ms(ns: Long): Double = ns / 1e6

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The innermost cause's class and message: Spark wraps the error a
    * reader hit (e.g. a field that does not parse) in generic ones. */
  def errorText(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${root.getClass.getSimpleName}: ${Option(root.getMessage).getOrElse("")}".take(600)
  }
}

/** Heap still in use after a full collection, sampled between phases:
  * the data the program retains (stream buffers, state, cached
  * intermediates), independent of how far the collector lets the heap grow
  * between collections. Collections repeat, with pauses for Spark's
  * ContextCleaner to drop the broadcasts, shuffles and unpersisted blocks
  * the previous one released, until the heap stops shrinking, so the
  * sample does not depend on how far the cleaner got. */
object LiveHeap {
  private var peak = 0L
  private def used(): Long = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
  def sample(): Unit = {
    var last = used()
    var rounds = 0
    var shrinking = true
    while (shrinking && rounds < 6) {
      Thread.sleep(300)
      val now = used()
      shrinking = last - now > (2L << 20)
      last = math.min(last, now)
      rounds += 1
    }
    peak = math.max(peak, last)
  }
  def peakMb: Double = peak / 1048576.0
}

/** Ordered JSON object builder: numbers, strings, sequences and nested
  * results, nothing else. */
final class Result {
  private val fields = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  def update(k: String, v: Any): Unit = fields(k) = v
  def json: String = fields.map { case (k, v) => Result.q(k) + ":" + Result.enc(v) }
    .mkString("{", ",", "}")
}

object Result {
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def enc(v: Any): String = v match {
    case null => "null"
    case s: String => q(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case r: Result => r.json
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => q(k.toString) + ":" + enc(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(enc).mkString("[", ",", "]")
    case other => q(other.toString)
  }
}

/** In-memory span recorder. Spans carry name, layer, start, end, parent and
  * the run id; they are written out once, when the run ends. With tracing
  * off every call is a plain pass-through. */
final class Tracer(val on: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, layer: String,
                        startNs: Long, endNs: Long)
  val runId: String = java.util.UUID.randomUUID().toString
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  def current: Int = stack.get.headOption.getOrElse(0)

  def apply[T](name: String, layer: String)(body: => T): T =
    if (!on) body else {
      val id = ids.incrementAndGet()
      val parent = current
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, layer, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  /** Record a span measured elsewhere (a listener callback); returns its id.
    * Parent -1: the innermost span whose interval holds this one's midpoint,
    * resolved when the spans are written. */
  def add(name: String, layer: String, startNs: Long, endNs: Long, parent: Int = -1): Int =
    if (!on) 0 else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, name, layer, startNs, endNs))
      id
    }

  def write(path: String): Unit = {
    val all = spans.asScala.toSeq
    val resolved = all.map { s =>
      if (s.parent >= 0) s else {
        val mid = s.startNs / 2 + s.endNs / 2
        val holder = all.filter(o => o.id != s.id && o.startNs <= mid && mid <= o.endNs &&
            o.endNs - o.startNs > s.endNs - s.startNs)
          .minByOption(o => o.endNs - o.startNs)
        s.copy(parent = holder.map(_.id).getOrElse(0))
      }
    }
    val lines = resolved.sortBy(_.id).map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":${Result.q(s.name)},""" +
        s""""layer":"${s.layer}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    Files.write(Paths.get(path), lines.asJava, UTF_8)
  }
}

/** Counters read from Spark's public listener APIs: one record per
  * finished SQL action, plus job, shuffle and spill totals. The listener
  * bus delivers them off the query path. */
final class Probes extends SparkListener with QueryExecutionListener {
  final case class Action(endNs: Long, durNs: Long, outputPath: String,
                          filesWritten: Long, bytesWritten: Long,
                          rowsScanned: Long, filesScanned: Long, failed: Boolean)
  val actions = new ConcurrentLinkedQueue[Action]
  val jobs = new AtomicLong(0)
  val shuffleBytes = new AtomicLong(0)
  val spillBytes = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
    }

  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case l if l.children.isEmpty => Seq(l)
    case n => n.children.flatMap(leaves)
  }

  private def metric(p: SparkPlan, k: String): Long =
    p.metrics.get(k).map(_.value).getOrElse(0L)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan = qe.executedPlan
    val write = plan.collectFirst { case w: DataWritingCommandExec => w }
    val (path, files, bytes) = write.map(_.cmd) match {
      case Some(c: InsertIntoHadoopFsRelationCommand) =>
        def m(k: String) = c.metrics.get(k).map(_.value).getOrElse(0L)
        (c.outputPath.toString, m("numFiles"), m("numOutputBytes"))
      case _ => ("", 0L, 0L)
    }
    val scans = (write.map(_.child).toSeq ++ Seq(plan)).flatMap(leaves)
      .filter(_.metrics.contains("numFiles"))
    actions.add(Action(System.nanoTime(), durationNs, path, files, bytes,
      scans.map(metric(_, "numOutputRows")).sum, scans.map(metric(_, "numFiles")).sum,
      failed = false))
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    actions.add(Action(System.nanoTime(), 0L, "", 0L, 0L, 0L, 0L, failed = true))

  /** Wait (bounded) until no action has arrived for 200 ms, for callers
    * that cannot count their actions (a streaming sink's writes). */
  def quiesce(timeoutMs: Long = 5000): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    var n = -1
    while (actions.size != n && System.currentTimeMillis() < end) {
      n = actions.size
      Thread.sleep(200)
    }
  }
}

object Probes {
  def register(spark: SparkSession): Probes = {
    val p = new Probes
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }
}

/** `ingest`: the archiver's live path as one streaming plan —
  * `ArchiveStream.parseRaw` → `ArchiveStream.archive` (watermark dedup,
  * day-partitioned zstd sink, `compact` every 12 batches as `graft.Service`
  * does) over a MemoryStream of raw event JSON. Phases: catch-up (closed
  * loop over a fixed backlog), live (open loop at a fixed tick rate,
  * latency timed from each tick's due time to the commit of the
  * micro-batch holding it), read (the canonical replace-by-key + 3-day TTL
  * + per-day count over the archive as the live phase left it), then a
  * scan of the hour files through the `sources` layer (`Sources.scan`). */
object Ingest {
  import Harness._

  private def lines(path: String): Array[String] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toArray

  private def groups(path: String, sizes: Seq[Int]): Seq[Array[String]] = {
    val all = lines(path)
    sizes.scanLeft(0)(_ + _).sliding(2).map { case Seq(a, b) => all.slice(a, b) }.toSeq
  }

  final class Commits extends StreamingQueryListener {
    /** (receipt time, progress) per micro-batch that committed. */
    val seen = new ConcurrentLinkedQueue[(Long, StreamingQueryProgress)]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      seen.add((System.nanoTime(), e.progress))
    def batches: Seq[(Long, StreamingQueryProgress)] =
      seen.asScala.toSeq.groupBy(_._2.batchId).values.map(_.minBy(_._1)).toSeq.sortBy(_._1)
  }

  def endOffset(p: StreamingQueryProgress): Long =
    scala.util.Try(p.sources.head.endOffset.trim.toLong).getOrElse(-1L)

  def run(spark: SparkSession, conf: Map[String, String], tracer: Tracer,
          probes: Probes, out: Result): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = conf("input_dir")
    val archiveDir = s"${conf("run_dir")}/archive"
    val ckptDir = s"${conf("run_dir")}/checkpoint"
    val adds = groups(s"$dir/adds.ndjson", conf("add_sizes").split(",").map(_.toInt).toSeq)
    val pageRows = conf("page_rows").toInt
    val pages = lines(s"$dir/pages.ndjson").grouped(pageRows).toArray
    val warmup = lines(s"$dir/warmup.ndjson")
    val tickHz = conf("tick_hz").toDouble
    val compactEvery = conf("compact_every").toInt
    val commits = new Commits
    spark.streams.addListener(commits)

    val mem = MemoryStream[String](conf("cpus").toInt)
    val query = tracer("ArchiveStream.archive(start)", "streaming") {
      graft.streaming.ArchiveStream.archive(
        graft.streaming.ArchiveStream.parseRaw(mem.toDF(), "value"),
        archiveDir, ckptDir, Trigger.ProcessingTime(conf("trigger_ms").toLong),
        compactEvery = compactEvery)
    }
    var attempted = 0
    var failed = 0
    val errors = ArrayBuffer.empty[String]
    try {
      // the first micro-batch plans and compiles the streaming job; it is
      // part of bringing the service up, not of the catch-up drain
      val w0 = System.nanoTime()
      tracer("warmup", "bench") { mem.addData(warmup.toSeq); query.processAllAvailable() }
      out("first_batch_s") = (System.nanoTime() - w0) / 1e9

      // catch-up: closed loop, one add in flight at a time
      val catchupRows = adds.map(_.length).sum
      val t0 = System.nanoTime()
      tracer("catchup", "bench") {
        adds.zipWithIndex.foreach { case (rows, i) =>
          tracer(s"add[$i]", "bench") { mem.addData(rows.toSeq); query.processAllAvailable() }
        }
      }
      val catchupS = (System.nanoTime() - t0) / 1e9
      out("catchup_rows") = catchupRows
      out("catchup_s") = catchupS
      attempted += adds.length

      // live: open loop; a tick's page is added at its due time whatever
      // the engine is doing, and a late generator is measured, not hidden
      val periodNs = (1e9 / tickHz).toLong
      val due = new Array[Long](pages.length)
      val sent = new Array[Long](pages.length)
      val offs = new Array[Long](pages.length)
      val liveStart = System.nanoTime() + 50_000_000L
      tracer("live", "bench") {
        var i = 0
        while (i < pages.length) {
          due(i) = liveStart + i * periodNs
          val wait = due(i) - System.nanoTime()
          if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
          sent(i) = System.nanoTime()
          offs(i) = mem.addData(pages(i).toSeq).asInstanceOf[
            org.apache.spark.sql.execution.streaming.runtime.LongOffset].offset
          i += 1
        }
      }
      val lastTickNs = System.nanoTime()
      val lastCommitted = commits.batches.filter(_._1 <= lastTickNs)
        .map(b => endOffset(b._2)).maxOption.getOrElse(-1L)
      out("backlog_rows_end") = offs.count(_ > lastCommitted) * pageRows
      tracer("drain", "bench") { query.processAllAvailable() }
      LiveHeap.sample()
      attempted += pages.length
      val batches = commits.batches
      val fresh = pages.indices.flatMap { i =>
        batches.find(b => b._1 >= sent(i) && endOffset(b._2) >= offs(i))
          .map(b => ms(b._1 - due(i)))
          .orElse { failed += 1; errors += s"tick $i never committed"; None }
      }
      out("fresh_ms") = fresh
      out("gen_late_ms") = pages.indices.map(i => ms(sent(i) - due(i)))
    } catch { case e: Throwable =>
      failed += 1; attempted += 1; errors += errorText(e)
    } finally {
      query.stop()
    }
    streamStats(commits.batches, tracer, out)

    // read: the canonical archive query, repeated for a stable median
    val reps = conf("read_reps").toInt
    val warmups = conf("read_warmups").toInt
    val times = ArrayBuffer.empty[Double]
    var days: Seq[(String, Long)] = Nil
    tracer("read", "bench") {
      // untimed reads first: planning, codegen and JIT are paid once per
      // process, and the timed reads measure the archive's layout
      (1 to warmups).foreach { _ =>
        try tracer("read.warmup", "sink") { canonicalDays(spark, archiveDir) }
        catch { case e: Throwable => failed += 1; attempted += 1; errors += errorText(e) }
      }
      (1 to reps).foreach { _ =>
        val t = System.nanoTime()
        try {
          days = tracer("read.canonical", "sink") { canonicalDays(spark, archiveDir) }
          times += (System.nanoTime() - t) / 1e9
        } catch { case e: Throwable => failed += 1; errors += errorText(e) }
        attempted += 1
      }
    }
    LiveHeap.sample()
    out("read_s") = times.toSeq
    out("day_counts") = days.map { case (d, n) => Map("day" -> d, "n" -> n) }
    out("archive_dir") = archiveDir
    sinkStats(probes, archiveDir, tracer, out)

    try Sources.scan(spark, conf, tracer, out)
    catch { case e: Throwable => failed += 1; errors += s"sources: ${errorText(e)}" }
    attempted += 1
    out("attempted") = attempted
    out("failed") = failed
    out("errors") = errors.toSeq
  }

  /** replace-by-key (one row per (ts, id), the ReplacingMergeTree ORDER BY
    * key) over the 3-day TTL window, counted per day. */
  def canonicalDays(spark: SparkSession, archiveDir: String): Seq[(String, Long)] = {
    val stored = spark.read.parquet(archiveDir).select("id", "ts", "raw")
    val live = graft.streaming.ArchiveStream.applyTtl(stored, 3)
    live.withColumn("rn", row_number().over(
        Window.partitionBy("ts", "id").orderBy("raw")))
      .filter(col("rn") === 1)
      .groupBy(to_date(col("ts")).cast("string").as("day"))
      .agg(count(lit(1)).as("n"))
      .orderBy("day")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
  }

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)

  /** Per-batch numbers from the progress reports, and (traced) one span per
    * micro-batch with its addBatch part as a sink child span. */
  def streamStats(batches: Seq[(Long, StreamingQueryProgress)], tracer: Tracer,
                  out: Result): Unit = {
    val ps = batches.map(_._2)
    val ops = ps.flatMap(p => Option(p.stateOperators).toSeq.flatten)
    out("batches") = ps.size
    out("batch_ms") = ps.map(dur(_, "triggerExecution"))
    out("add_batch_ms") = ps.map(dur(_, "addBatch"))
    out("planning_ms") = ps.map(dur(_, "queryPlanning"))
    out("wal_commit_ms") = ps.map(dur(_, "walCommit"))
    out("commit_offsets_ms") = ps.map(dur(_, "commitOffsets"))
    out("state_rows_peak") = ops.map(_.numRowsTotal).maxOption.getOrElse(0L)
    out("state_bytes_peak") = ops.map(_.memoryUsedBytes).maxOption.getOrElse(0L)
    out("state_commit_ms") = ops.map(_.commitTimeMs.toDouble)
    out("input_rows") = ps.map(_.numInputRows).sum
    out("state_rows_updated") = ops.map(_.numRowsUpdated).sum
    if (tracer.on) batches.foreach { case (recv, p) =>
      val total = (dur(p, "triggerExecution") * 1e6).toLong
      val start = recv - total
      val id = tracer.add(s"microbatch[${p.batchId}]", "streaming", start, recv)
      val before = (dur(p, "latestOffset") + dur(p, "walCommit") +
        dur(p, "queryPlanning") + dur(p, "getBatch")) * 1e6
      val addStart = start + before.toLong
      tracer.add("foreachBatch", "sink", addStart,
        addStart + (dur(p, "addBatch") * 1e6).toLong, id)
    }
  }

  /** Sink writes and compactions from the traced run's action records;
    * compaction writes go to `.compact-tmp-*` beside the day partitions. */
  def sinkStats(probes: Probes, archiveDir: String, tracer: Tracer, out: Result): Unit = {
    probes.quiesce()
    val acts = probes.actions.asScala.toSeq
    val writes = acts.filter(a => a.outputPath.contains(archiveDir) && !a.outputPath.contains(".compact-tmp-"))
    val compacts = acts.filter(_.outputPath.contains(".compact-tmp-"))
    val reads = acts.filter(a => a.outputPath.isEmpty && a.filesScanned > 0 && !a.failed)
    out("sink_write_s") = writes.map(_.durNs).sum / 1e9
    out("sink_files_written") = writes.map(_.filesWritten).sum
    out("sink_bytes_written") = writes.map(_.bytesWritten).sum
    out("compact_ms") = compacts.map(a => ms(a.durNs))
    out("read_files_scanned") = reads.lastOption.map(_.filesScanned).getOrElse(0L)
    out("read_rows_scanned") = reads.lastOption.map(_.rowsScanned).getOrElse(0L)
    compacts.foreach(a => tracer.add("compact", "compact", a.endNs - a.durNs, a.endNs))
  }
}

/** The `sources` layer on its own: `GhArchiveSource.listHours` (listing-level
  * hour pruning) and the gzip + NDJSON decode of `GhArchiveSource.read`,
  * forced through `noop`. The scan keeps `ts` and `hour` and leaves `id`
  * out: the source types `id` as a number and GitHub sends it as a string,
  * so any read that decodes `id` fails (the `backfill` workload reports
  * that failure); `created_at` and the hour key decode on every line. */
object Sources {
  import Harness._
  import graft.sources.GhArchiveSource

  /** Hour files in [from, to), with the listing time, the names of the
    * files kept and their bytes recorded in `out`. */
  def list(dir: String, from: Option[java.time.LocalDateTime],
           to: Option[java.time.LocalDateTime], tracer: Tracer,
           out: Result): Seq[(String, String)] = {
    val listed = tracer("GhArchiveSource.listHours", "sources") {
      val t = System.nanoTime()
      val l = GhArchiveSource.listHours(dir, from, to)
      out("list_ms") = ms(System.nanoTime() - t)
      l
    }
    out("files_read") = listed.map(p => new java.io.File(p._1).getName)
    out("input_bytes") = listed.map(p => new java.io.File(p._1).length).sum
    listed
  }

  /** One untimed scan, `src_reps` timed ones, then (untimed) the rows and
    * parsed timestamps per hour for the check. */
  def scan(spark: SparkSession, conf: Map[String, String], tracer: Tracer,
           out: Result): Unit = tracer("sources", "bench") {
    val dir = conf("hours_dir")
    val from = Some(GhArchiveSource.parseHourKey(conf("from_hour")))
    val to = Some(GhArchiveSource.parseHourKey(conf("to_hour")))
    list(dir, from, to, tracer, out)
    def once(): Unit = tracer("GhArchiveSource.read(noop)", "sources") {
      GhArchiveSource.read(spark, dir, from, to).select("ts", "hour")
        .write.format("noop").mode("overwrite").save()
    }
    once()
    out("decode_s") = (1 to conf("src_reps").toInt).map { _ =>
      val t = System.nanoTime(); once(); (System.nanoTime() - t) / 1e9
    }
    out("hour_rows") = GhArchiveSource.read(spark, dir, from, to)
      .groupBy(date_format(col("hour"), "yyyy-MM-dd-H").as("hour"))
      .agg(count(lit(1)).as("n"), count(col("ts")).as("n_ts"))
      .collect().map(r => Map("hour" -> r.getString(0), "n" -> r.getLong(1),
                              "n_ts" -> r.getLong(2))).toSeq
  }
}

/** `backfill`: the calls `graft.Backfill.main` makes — `GhArchiveSource.read`
  * over an hour range → `dropDuplicates("id")` → day-partitioned,
  * (ts, id)-sorted zstd write — over generated hour files. */
object Backfill {
  import Harness._

  def run(spark: SparkSession, conf: Map[String, String], tracer: Tracer,
          probes: Probes, out: Result): Unit = {
    import graft.sources.GhArchiveSource
    val dir = conf("input_dir")
    val outDir = s"${conf("run_dir")}/archive"
    val from = Some(GhArchiveSource.parseHourKey(conf("from_hour")))
    val to = Some(GhArchiveSource.parseHourKey(conf("to_hour")))
    val reps = conf("reps").toInt
    var attempted = 0
    var failed = 0
    val errors = ArrayBuffer.empty[String]
    Sources.list(dir, from, to, tracer, out)
    val decode = ArrayBuffer.empty[Double]
    val load = ArrayBuffer.empty[Double]
    (1 to reps).foreach { i =>
      attempted += 1
      try {
        if (tracer.on) {
          val t = System.nanoTime()
          tracer("GhArchiveSource.read(noop)", "sources") {
            GhArchiveSource.read(spark, dir, from, to).write.format("noop").mode("overwrite").save()
          }
          decode += (System.nanoTime() - t) / 1e9
        }
        val target = s"$outDir/$i"
        val t = System.nanoTime()
        tracer("Backfill.write", "sink") {
          GhArchiveSource.read(spark, dir, from, to)
            .dropDuplicates("id")
            .withColumn("d", to_date(col("ts")))
            .repartition(col("d"))
            .sortWithinPartitions("ts", "id")
            .write.mode("append").option("compression", "zstd")
            .partitionBy("d").parquet(target)
        }
        load += (System.nanoTime() - t) / 1e9
        out("archive_dir") = target
      } catch { case e: Throwable => failed += 1; errors += errorText(e) }
    }
    LiveHeap.sample()
    out("decode_s") = decode.toSeq
    out("load_s") = load.toSeq
    probes.quiesce()
    val writes = probes.actions.asScala.toSeq.filter(_.outputPath.contains(outDir))
    out("sink_files_written") = writes.map(_.filesWritten).sum
    out("sink_bytes_written") = writes.map(_.bytesWritten).sum
    out("attempted") = attempted
    out("failed") = failed
    out("errors") = errors.toSeq
  }
}

/** `query`: one closed-loop client over a fixed key mix of
  * `SparkEntry.queries`, each key materialized through the `noop` sink as
  * `graft.Bench` does. One cold pass in the fresh JVM, then steady passes
  * for the run length in a seeded key order per pass, then (untimed) one
  * pass that writes every result for the oracle check. */
object Query {
  import Harness._

  def run(spark: SparkSession, conf: Map[String, String], tracer: Tracer,
          probes: Probes, out: Result): Unit = {
    val dir = conf("input_dir")
    val keys = conf("keys").split(",").toSeq
    val layerOf = conf("key_layers").split(",").map { kv =>
      val Array(k, l) = kv.split("="); k -> l }.toMap
    val seconds = conf("seconds").toDouble
    val rng = new scala.util.Random(conf("seed").toLong)
    val errors = ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0

    /** One pass over `order`; returns per-key (build s, exec s). */
    def pass(name: String, order: Seq[String]): Map[String, (Double, Double)] =
      tracer(name, "bench") {
        order.flatMap { k =>
          attempted += 1
          tracer(s"query.$k", layerOf(k)) {
            try {
              val t0 = System.nanoTime()
              val df = tracer("build", layerOf(k)) { graft.SparkEntry.queries(k)(spark, dir) }
              val t1 = System.nanoTime()
              tracer("exec", layerOf(k)) { df.write.format("noop").mode("overwrite").save() }
              val r = ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
              System.err.println(f"[perfbench] $name $k build ${r._1}%.3f s exec ${r._2}%.3f s")
              Some(k -> r)
            } catch { case e: Throwable =>
              failed += 1; errors += s"$name $k: ${errorText(e)}"; None
            }
          }
        }.toMap
      }

    val t0 = System.nanoTime()
    val cold = pass("pass[cold]", rng.shuffle(keys))
    out("cold_s") = (System.nanoTime() - t0) / 1e9
    out("cold_key_s") = cold.map { case (k, (b, e)) => k -> (b + e) }
    LiveHeap.sample()
    probes.quiesce()
    val (j0, s0, sp0, a0) =
      (probes.jobs.get, probes.shuffleBytes.get, probes.spillBytes.get, probes.actions.size)

    // steady passes until another one would end past the run length
    val passes = ArrayBuffer.empty[(Double, Map[String, (Double, Double)])]
    val steadyStart = System.nanoTime()
    while (passes.isEmpty ||
           (System.nanoTime() - steadyStart) / 1e9 + passes.last._1 <= seconds) {
      val t = System.nanoTime()
      val r = pass(s"pass[${passes.size}]", rng.shuffle(keys))
      passes += (((System.nanoTime() - t) / 1e9, r))
    }
    LiveHeap.sample()
    out("pass_s") = passes.map(_._1).toSeq
    out("key_lat_s") = passes.flatMap(_._2.values.map(t => t._1 + t._2)).toSeq
    out("key_s") = keys.map(k => k -> median(passes.flatMap(_._2.get(k)).map(t => t._1 + t._2).toSeq)).toMap
    out("build_ms") = median(passes.map(p => p._2.values.map(_._1).sum * 1000).toSeq)
    out("exec_ms") = median(passes.map(p => p._2.values.map(_._2).sum * 1000).toSeq)
    probes.quiesce()
    val n = passes.size.toDouble
    out("jobs") = (probes.jobs.get - j0) / n
    out("shuffle_bytes") = (probes.shuffleBytes.get - s0) / n
    out("spill_bytes") = (probes.spillBytes.get - sp0) / n
    out("rows_scanned") = probes.actions.asScala.toSeq.drop(a0).map(_.rowsScanned).sum / n

    // check pass (untimed): results as parquet, timestamps as NTZ so the
    // DuckDB side reads the type its oracle SQL computes
    val checkDir = s"${conf("run_dir")}/check"
    keys.foreach { k =>
      attempted += 1
      try {
        val df = graft.SparkEntry.queries(k)(spark, dir)
        df.select(df.schema.fields.map { f =>
          if (f.dataType == TimestampType) col(f.name).cast(TimestampNTZType).as(f.name)
          else col(f.name)
        }.toSeq: _*).coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$k")
      } catch { case e: Throwable => failed += 1; errors += s"check $k: ${errorText(e)}" }
    }
    val oracle = graft.SparkEntry.oracleSql
    out("oracle_sql") = keys.flatMap(k => oracle.get(k).map(k -> _)).toMap
    out("check_dir") = checkDir
    out("attempted") = attempted
    out("failed") = failed
    out("errors") = errors.toSeq
  }
}
