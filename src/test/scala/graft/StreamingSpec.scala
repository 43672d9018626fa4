package graft

import graft.streaming.ArchiveStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files
import java.sql.Timestamp

/** Streaming semantics (SURVEY.md §2 group G) under MemoryStream micro-batches:
  * the dedup + archive pipeline behaves like the reference service —
  * duplicates across polls collapse, output is day-partitioned parquet.
  */
class StreamingSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def raw(id: Long, t: String): String =
    s"""{"id": $id, "created_at": "${t.replace(' ', 'T')}Z", "type": "PushEvent"}"""

  test("parseRaw extracts id/ts and keeps payload verbatim") {
    import spark.implicits._
    val in = Seq(raw(7, "2024-01-01 10:00:00"), raw(8, "2024-01-02 11:30:00")).toDF("raw")
    val out = ArchiveStream.parseRaw(in).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(7L, 8L))
    assert(out(0).getTimestamp(1) == ts("2024-01-01 10:00:00"))
    assert(out(0).getString(2) == raw(7, "2024-01-01 10:00:00"))
  }

  test("streaming dedup drops within-batch and cross-batch duplicate ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val events = mem.toDF().toDF("id", "ts", "raw")
    val q = ArchiveStream.dedup(events)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      // poll 1: one in-batch duplicate (id 1)
      mem.addData((1L, ts("2024-01-01 10:00:00"), "a"),
                  (1L, ts("2024-01-01 10:00:00"), "a"),
                  (2L, ts("2024-01-01 10:00:30"), "b"))
      q.processAllAvailable()
      // poll 2: id 2 replayed (cross-batch dup, inside watermark) + new id 3
      mem.addData((2L, ts("2024-01-01 10:00:30"), "b"),
                  (3L, ts("2024-01-01 10:01:00"), "c"))
      q.processAllAvailable()
      val got = spark.sql("select id from dedup_out").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("archive writes day-partitioned parquet, deduped, all rows present") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val out = Files.createTempDirectory("graft-archive-").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString
    val q = ArchiveStream.archive(
      mem.toDF().toDF("id", "ts", "raw"), out, ckpt,
      trigger = Trigger.AvailableNow())
    mem.addData((1L, ts("2024-01-01 10:00:00"), "a"),
                (2L, ts("2024-01-02 09:00:00"), "b"),
                (2L, ts("2024-01-02 09:00:00"), "b"),
                (3L, ts("2024-01-02 09:05:00"), "c"))
    q.awaitTermination()
    val archived = spark.read.parquet(out)
    assert(archived.count() == 3)
    // day partitioning materialized as directory column d
    val days = archived.select("d").distinct().collect().map(_.get(0).toString).sorted
    assert(days.toSeq == Seq("2024-01-01", "2024-01-02"))
  }

  test("archive appends each file in (ts, id) order, planned with one sort (D2)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{QueryExecution, SortExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.util.QueryExecutionListener
    implicit val sqlCtx = spark.sqlContext
    // the write's executed plan, captured as the micro-batch runs it
    val writePlans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.executedPlan.exists(_.isInstanceOf[DataWritingCommandExec]))
          writePlans.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val mem = MemoryStream[(Long, Timestamp, String)]
    val out = Files.createTempDirectory("graft-archsort-").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString
    // 5,000 distinct ids in random order on ~2,000 distinct seconds of one
    // day, so ts ties need the id tiebreak
    val rnd = new scala.util.Random(11)
    val base = ts("2024-01-02 00:00:00").getTime
    mem.addData(rnd.shuffle((0L until 5000L).toVector).map { id =>
      (id, new Timestamp(base + rnd.nextInt(2000) * 1000L), s"r$id")
    }: _*)
    spark.listenerManager.register(listener)
    try {
      ArchiveStream.archive(mem.toDF().toDF("id", "ts", "raw"), out, ckpt,
        trigger = Trigger.AvailableNow()).awaitTermination()
      val files = new java.io.File(out + "/d=2024-01-02").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1)
      val keys = spark.read.parquet(files.head.getPath).select("ts", "id")
        .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1)))
      assert(keys.length == 5000)
      val inversions = keys.sliding(2).count { case Array(a, b) =>
        Ordering[(Long, Long)].gt(a, b) }
      assert(inversions == 0, s"$inversions out-of-order neighbours in file order")
      // listener events arrive asynchronously
      val deadline = System.nanoTime() + 30000000000L
      while (writePlans.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(!writePlans.isEmpty, "no write plan captured")
      val sorts = new AdaptiveSparkPlanHelper {}
        .collect(writePlans.peek().executedPlan) { case s: SortExec => s }
      assert(sorts.map(_.sortOrder.map(_.child.sql).mkString(",")) ==
        Seq("d,ts,id"), writePlans.peek().executedPlan.toString)
    } finally spark.listenerManager.unregister(listener)
  }

  test("sliding window agg runs under a streaming source with watermark (G3)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val q = mem.toDF().toDF("id", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("n"))
      .writeStream.format("memory").queryName("sliding_out")
      .outputMode("complete").start()
    try {
      mem.addData((1L, ts("2024-01-01 10:05:00")), (2L, ts("2024-01-01 10:40:00")))
      q.processAllAvailable()
      val got = spark.sql("select ws, n from sliding_out order by ws")
        .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1))
      // event at 10:05 falls in [09:30,10:30) and [10:00,11:00);
      // event at 10:40 in [10:00,11:00) and [10:30,11:30)
      assert(got.toSeq == Seq(
        "2024-01-01 09:30:00.0" -> 1L,
        "2024-01-01 10:00:00.0" -> 2L,
        "2024-01-01 10:30:00.0" -> 1L))
    } finally q.stop()
  }

  test("session window agg closes a session after the 30-minute gap (G4)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    // streaming session windows require a grouping key (no global session
    // agg) — the natural shape anyway: sessions are per user/actor
    val q = mem.toDF().toDF("id", "ts")
      .withColumn("uid", lit(1L))
      .withWatermark("ts", "10 minutes")
      .groupBy(col("uid"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("n"))
      .writeStream.format("memory").queryName("session_out")
      .outputMode("complete").start()
    try {
      // two events 10 min apart (one session), a third 40 min later (new one)
      mem.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:10:00")),
                  (3L, ts("2024-01-01 10:50:00")))
      q.processAllAvailable()
      val got = spark.sql("select ws, n from session_out order by ws")
        .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1))
      assert(got.toSeq == Seq(
        "2024-01-01 10:00:00.0" -> 2L,
        "2024-01-01 10:50:00.0" -> 1L))
    } finally q.stop()
  }

  test("at-least-once replay: duplicate appends collapse at replace-by-key read") {
    import spark.implicits._
    // the reference's delivery contract: a replayed insert leaves duplicate
    // rows in storage, and the canonical read keeps one per (ts, id)
    val out = Files.createTempDirectory("graft-replay-").toString + "/a"
    val batch = Seq((1L, ts("2024-01-01 10:00:00"), "a"),
                    (2L, ts("2024-01-01 11:00:00"), "b")).toDF("id", "ts", "raw")
    def append(): Unit = batch
      .withColumn("d", to_date(col("ts")))
      .write.mode("append").partitionBy("d").parquet(out)
    append(); append() // replay after a simulated post-write failure
    val stored = spark.read.parquet(out)
    assert(stored.count() == 4)
    val canonical = stored
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("ts", "id").orderBy(col("raw"))))
      .filter(col("rn") === 1)
    assert(canonical.count() == 2)
    assert(canonical.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("compact collapses fragmented day partitions; reads and replay contract unchanged") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-compact-").toString + "/a"
    // 8 tiny appends (one per simulated micro-batch, incl. a replayed one)
    // fragment the day partition
    for (i <- 0 until 7)
      Seq((i.toLong, ts(s"2024-01-01 10:0$i:00"), s"r$i")).toDF("id", "ts", "raw")
        .withColumn("d", to_date(col("ts")))
        .write.mode("append").partitionBy("d").parquet(out)
    Seq((3L, ts("2024-01-01 10:03:00"), "r3")).toDF("id", "ts", "raw") // replay
      .withColumn("d", to_date(col("ts")))
      .write.mode("append").partitionBy("d").parquet(out)
    def files(): Int = new java.io.File(out + "/d=2024-01-01")
      .listFiles().count(_.getName.endsWith(".parquet"))
    def rows(): Seq[(Long, String)] = spark.read.parquet(out)
      .select("id", "raw").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq.sorted
    val (filesBefore, rowsBefore) = (files(), rows())
    assert(filesBefore >= 8)
    val rewritten = ArchiveStream.compact(spark, out, maxFilesPerPartition = 2)
    assert(rewritten == Seq("d=2024-01-01"))
    assert(files() == 1, "fragmented partition must collapse to one file")
    // row multiset EXACTLY preserved — including the at-least-once replay
    // duplicate, which still collapses at replace-by-key read time
    assert(rows() == rowsBefore)
    assert(spark.read.parquet(out).dropDuplicates("ts", "id").count() == 7)
    // idempotent: a second pass finds nothing fragmented
    assert(ArchiveStream.compact(spark, out, maxFilesPerPartition = 2).isEmpty)
    assert(rows() == rowsBefore)
  }

  test("compact with ttlDays drops whole expired day partitions, like merge-time TTL") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-compact-ttl-").toString + "/a"
    // four days of data; newest day = 2024-01-10, TTL 3 days → cutoff
    // 2024-01-07 (boundary kept, matching applyTtl's >=), so only
    // 2024-01-05 is expired
    for (d <- Seq("2024-01-05", "2024-01-07", "2024-01-09", "2024-01-10"))
      Seq((d.takeRight(2).toLong, ts(s"$d 12:00:00"), "r")).toDF("id", "ts", "raw")
        .withColumn("d", to_date(col("ts")))
        .write.mode("append").partitionBy("d").parquet(out)
    val result = ArchiveStream.compact(spark, out,
      maxFilesPerPartition = 100, ttlDays = Some(3))
    assert(result == Seq("d=2024-01-05"))
    val days = spark.read.parquet(out).select("d").distinct()
      .collect().map(_.get(0).toString).sorted
    assert(days.toSeq == Seq("2024-01-07", "2024-01-09", "2024-01-10"))
    // deterministic under replay: a second pass drops nothing further
    assert(ArchiveStream.compact(spark, out,
      maxFilesPerPartition = 100, ttlDays = Some(3)).isEmpty)
  }

  test("archive with compactEvery merges small files between micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val out = Files.createTempDirectory("graft-archcomp-").toString + "/a"
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString
    val q = ArchiveStream.archive(mem.toDF().toDF("id", "ts", "raw"), out, ckpt,
      trigger = Trigger.ProcessingTime("0 seconds"), compactEvery = 1)
    try {
      for (i <- 0 until 5) {
        mem.addData((i.toLong, ts(s"2024-01-02 09:0$i:00"), s"r$i"))
        q.processAllAvailable()
      }
      val dayDir = new java.io.File(out + "/d=2024-01-02")
      val nFiles = dayDir.listFiles().count(_.getName.endsWith(".parquet"))
      assert(nFiles <= 4, s"expected compacted day dir, found $nFiles files")
      val got = spark.read.parquet(out).select("id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == (0L until 5L))
    } finally q.stop()
  }

  test("mapGroupsWithState: per-key counts accumulate across micro-batches (custom state, G7/I)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val q = graft.streaming.StateOps.runningCounts(
        mem.toDF().toDF("key", "ts").as[(Long, Timestamp)])
      .writeStream.format("memory").queryName("state_out")
      .outputMode("update").start()
    try {
      mem.addData((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:01:00")),
                  (2L, ts("2024-01-01 10:02:00")))
      q.processAllAvailable()
      mem.addData((1L, ts("2024-01-01 10:03:00")))
      q.processAllAvailable()
      // cross-batch accumulation: key 1 reaches 3 (2 then +1), key 2 stays 1
      val latest = spark.sql("select key, max(n) from state_out group by key")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(latest == Map(1L -> 3L, 2L -> 1L))
    } finally q.stop()
  }

  test("sketch-MV maintenance: incremental partials == single pass; replay is a union no-op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val mv = Files.createTempDirectory("graft-sketchmv-").toString
    val ckpt = Files.createTempDirectory("graft-sketchmv-ckpt-").toString
    val b1 = Seq(1L, 2L, 3L, 2L).map(u => (u, ts("2024-01-01 10:00:00")))
    val b2 = Seq(3L, 4L, 5L).map(u => (u, ts("2024-01-01 11:00:00"))) ++
      Seq(1L, 6L).map(u => (u, ts("2024-01-02 09:00:00")))
    val q = ArchiveStream.sketchPartials(mem.toDF().toDF("id", "ts"), mv, ckpt)
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def rollup = ArchiveStream.sketchRollup(spark, mv)
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    // two batches touched day 1 -> two partial rows rolled up; equals the
    // single-pass estimate over the union of both batches
    val singlePass = (b1 ++ b2).toDF("id", "ts")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("id"))).as("e"))
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    val first = rollup
    assert(first == singlePass, s"merged=$first single=$singlePass")
    // at-least-once replay: append the SAME batch's partial again — the
    // register-wise-max union absorbs the duplicate, estimates unchanged
    val mem2 = MemoryStream[(Long, Timestamp)]
    val q2 = ArchiveStream.sketchPartials(
      mem2.toDF().toDF("id", "ts"), mv,
      Files.createTempDirectory("graft-sketchmv-ckpt2-").toString)
    try {
      mem2.addData(b1: _*); q2.processAllAvailable()
    } finally q2.stop()
    assert(rollup == first, "replayed partial changed the estimate")
    // and the MV really did grow by one more day-1 partial row (no dedup
    // happened — the ALGEBRA absorbed it)
    assert(spark.read.parquet(mv).filter(col("day") === "2024-01-01").count() == 3)
    // compaction (VERDICT r6 ask #6): union-merge the partials down to one
    // row per day — the rollup is unchanged because the compaction IS the
    // rollup's own associative union, then keep streaming into the
    // compacted MV and verify new appends still merge in.
    val (nBefore, nAfter) = ArchiveStream.compactSketchPartials(spark, mv)
    assert(nBefore == 4L && nAfter == 2L, s"expected 4 partials -> 2, got $nBefore -> $nAfter")
    assert(spark.read.parquet(mv).count() == 2)
    assert(rollup == first, "compaction changed the rollup")
    val mem3 = MemoryStream[(Long, Timestamp)]
    val q3 = ArchiveStream.sketchPartials(
      mem3.toDF().toDF("id", "ts"), mv,
      Files.createTempDirectory("graft-sketchmv-ckpt3-").toString)
    try {
      mem3.addData((7L, ts("2024-01-02 10:00:00"))); q3.processAllAvailable()
    } finally q3.stop()
    val withNew = rollup
    assert(withNew("2024-01-01") == first("2024-01-01") &&
      withNew("2024-01-02") == first("2024-01-02") + 1,
      s"post-compaction append lost: $withNew vs $first")
    // crash recovery (ADVICE r7 #3): simulate a crash BETWEEN the two swap
    // renames — mvDir gone, all data stranded in the `.compact-old`
    // sibling — and verify the next compactSketchPartials entry restores
    // it and completes: same rollup, partials re-merged to one per day.
    val fs = new org.apache.hadoop.fs.Path(mv)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(mv)
    val stranded = new org.apache.hadoop.fs.Path(
      root.getParent, ".compact-old-" + root.getName)
    assert(fs.rename(root, stranded), "test setup: strand the MV")
    assert(!fs.exists(root))
    val (rb, ra) = ArchiveStream.compactSketchPartials(spark, mv)
    assert(rb == 3L && ra == 2L, s"post-crash compaction got $rb -> $ra")
    assert(fs.exists(root) && !fs.exists(stranded))
    assert(rollup == withNew, "crash recovery changed the rollup")
  }

  test("flatMapGroupsWithState streaming funnel: levels equal the batch event_funnel") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    // watermark wider than the replayed 30-day span: no state eviction mid
    // replay, so no funnel re-anchors and batch/stream levels must agree
    // exactly (see the streamingFunnel doc comment for the re-anchor rule)
    val q = graft.streaming.StateOps.streamingFunnel(
        mem.toDF().toDF("user_id", "event_type", "ts").as[(Long, String, Timestamp)],
        watermark = "40 days")
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    try {
      // replay the whole sf0.001 events table in event-time order, split
      // across three micro-batches — the archive source's in-order contract
      val all = Tables.events(spark, sf)
        .select("user_id", "event_type", "ts")
        .orderBy("ts", "event_id")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2)))
      for (chunk <- all.grouped(400)) { mem.addData(chunk.toSeq); q.processAllAvailable() }
      // per-user max reached level from the stream, exclusive level counts
      val streamLevels = spark.sql(
        "select user_id, max(level) as lvl from funnel_out group by user_id")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val streamCounts = streamLevels.values.groupBy(identity).map { case (l, v) => (l.toLong, v.size.toLong) }
      val batchCounts = SparkEntry.queries("event_funnel")(spark, sf).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).filter(_._1 > 0).toMap
      assert(streamCounts == batchCounts,
        s"stream $streamCounts vs batch $batchCounts")
    } finally q.stop()
  }

  test("streaming as-of join equals the batch join_asof / plan-level AsOfJoin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long, Timestamp)]
    // watermark wider than the replayed span: no state eviction mid-replay,
    // so the stream must reproduce the batch as-of exactly
    val q = graft.streaming.StateOps.streamingAsOf(
        mem.toDF().toDF("user_id", "event_type", "event_id", "ts")
          .as[(Long, String, Long, Timestamp)],
        watermark = "40 days")
      .writeStream.format("memory").queryName("asof_out")
      .outputMode("append").start()
    try {
      val all = Tables.events(spark, sf)
        .filter(col("event_type").isin("click", "purchase"))
        .select("user_id", "event_type", "event_id", "ts")
        .orderBy("ts", "event_id")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getTimestamp(3)))
      for (chunk <- all.grouped(400)) { mem.addData(chunk.toSeq); q.processAllAvailable() }
      val streamed = spark.sql(
        "select p_id, click_ts from asof_out")
        .collect().map(r => r.getLong(0) -> Option(r.getTimestamp(1))).toMap
      val batch = SparkEntry.queries("join_asof")(spark, sf).collect()
        .map(r => r.getLong(0) -> Option(r.getTimestamp(3))).toMap
      assert(streamed.size == batch.size,
        s"purchase count: stream ${streamed.size} vs batch ${batch.size}")
      val diffs = batch.collect {
        case (id, want) if streamed(id) != want => (id, streamed(id), want)
      }
      assert(diffs.isEmpty, s"first diffs: ${diffs.take(5)}")
    } finally q.stop()
  }

  test("late data beyond the watermark is dropped from finalized windows (G6)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val q = mem.toDF().toDF("id", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("n"))
      .writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    try {
      mem.addData(Seq((1L, ts("2024-01-01 00:05:00")), (2L, ts("2024-01-01 00:20:00"))))
      q.processAllAvailable()
      // event time jumps 3 h: the watermark passes 01:00 and append mode
      // finalizes the first window with n = 2
      mem.addData(Seq((3L, ts("2024-01-01 03:00:00"))))
      q.processAllAvailable()
      // a LATE row for the closed 00:00 window — behind the watermark,
      // must be dropped, not resurrect or re-emit the window
      mem.addData(Seq((4L, ts("2024-01-01 00:30:00"))))
      q.processAllAvailable()
      mem.addData(Seq((5L, ts("2024-01-01 06:00:00"))))
      q.processAllAvailable()
      val first = spark.sql(
        "select n from late_out where w_start = timestamp'2024-01-01 00:00:00'")
        .collect().map(_.getLong(0)).toSeq
      assert(first == Seq(2L),
        s"closed window must emit once with the on-time count only: $first")
    } finally q.stop()
  }

  test("flatMapGroupsWithState carry-forward equals the batch window_fill_forward") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Timestamp, Double)]
    // watermark wider than the replayed span: no idle eviction mid-replay,
    // so the stream must reproduce the batch window exactly
    val q = graft.streaming.StateOps.carryForward(
        mem.toDF().toDF("user_id", "event_id", "event_type", "ts", "value")
          .as[(Long, Long, String, Timestamp, Double)],
        watermark = "40 days")
      .writeStream.format("memory").queryName("carry_out")
      .outputMode("append").start()
    try {
      val all = Tables.events(spark, sf)
        .select("user_id", "event_id", "event_type", "ts", "value")
        .orderBy("ts", "event_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getTimestamp(3), r.getDouble(4)))
      for (chunk <- all.grouped(400)) { mem.addData(chunk.toSeq); q.processAllAvailable() }
      val stream = spark.sql("select user_id, event_id, filled from carry_out")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      val batch = SparkEntry.queries("window_fill_forward")(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
      assert(stream.size == batch.size, s"${stream.size} vs ${batch.size}")
      assert(stream == batch)
    } finally q.stop()
  }

  test("property: streaming funnel equals a sequential state-machine reference") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val types = Vector("signup", "click", "purchase", "view", "error")
    val windowMs = 7L * 24 * 3600 * 1000
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      // unique, strictly increasing timestamps: no tie ambiguity to test
      val events = (0 until 300).map { k =>
        (rnd.nextInt(8).toLong, types(rnd.nextInt(types.size)),
          new Timestamp(base + k * 60000L + rnd.nextInt(50000)))
      }.sortBy(_._3.getTime)
      // sequential reference: the documented state machine, no eviction
      val want = scala.collection.mutable.Map[Long, (Long, Long, Long)]()
      val wantLevels = scala.collection.mutable.Map[Long, Int]()
      for ((u, typ, ts) <- events) {
        val t = ts.getTime
        val (t1, t2, t3) = want.getOrElse(u, (-1L, -1L, -1L))
        if (typ == "signup" && t1 < 0) {
          want(u) = (t, t2, t3); wantLevels(u) = math.max(wantLevels.getOrElse(u, 0), 1)
        } else if (typ == "click" && t1 >= 0 && t2 < 0 && t > t1 && t <= t1 + windowMs) {
          want(u) = (t1, t, t3); wantLevels(u) = math.max(wantLevels.getOrElse(u, 0), 2)
        } else if (typ == "purchase" && t2 >= 0 && t3 < 0 && t > t2 && t <= t1 + windowMs) {
          want(u) = (t1, t2, t); wantLevels(u) = math.max(wantLevels.getOrElse(u, 0), 3)
        }
      }
      val mem = MemoryStream[(Long, String, Timestamp)]
      val q = graft.streaming.StateOps.streamingFunnel(
          mem.toDF().toDF("user_id", "event_type", "ts").as[(Long, String, Timestamp)],
          watermark = "60 days")
        .writeStream.format("memory").queryName(s"funnel_prop_$seed")
        .outputMode("append").start()
      try {
        for (chunk <- events.grouped(97)) { mem.addData(chunk); q.processAllAvailable() }
        val got = spark.sql(
          s"select user_id, max(level) from funnel_prop_$seed group by user_id")
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        assert(got == wantLevels.toMap, s"seed=$seed")
      } finally q.stop()
    }
  }

  test("streaming funnel evicts closed windows and re-anchors on a later signup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val q = graft.streaming.StateOps.streamingFunnel(
        mem.toDF().toDF("user_id", "event_type", "ts").as[(Long, String, Timestamp)],
        watermark = "1 hour")
      .writeStream.format("memory").queryName("funnel_restart_out")
      .outputMode("append").start()
    try {
      // funnel 1: signup + click, never purchases; window (7 d) then closes
      mem.addData((1L, "signup", ts("2024-01-01 00:00:00")),
                  (1L, "click", ts("2024-01-01 01:00:00")))
      q.processAllAvailable()
      // another user's event pushes the watermark past day 8 -> user 1's
      // window (ends Jan 8) is evicted at the state-store timeout
      mem.addData((2L, "view", ts("2024-01-10 00:00:00")))
      q.processAllAvailable()
      // funnel 2: the late signup re-anchors; a full chain completes
      mem.addData((1L, "signup", ts("2024-01-20 00:00:00")),
                  (1L, "click", ts("2024-01-20 01:00:00")),
                  (1L, "purchase", ts("2024-01-20 02:00:00")))
      q.processAllAvailable()
      val levels = spark.sql(
        "select level, count(*) as n from funnel_restart_out where user_id = 1 group by level")
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      // two level-1 and two level-2 advances (one per funnel), one level-3
      assert(levels == Map(1 -> 2L, 2 -> 2L, 3 -> 1L), levels.toString)
    } finally q.stop()
  }

  test("stream-stream interval join: watermarked state, results equal the batch twin (G6+)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicksMem = MemoryStream[(Long, Long, Timestamp)]
    val purchMem = MemoryStream[(Long, Long, Timestamp)]
    val clicks = clicksMem.toDF().toDF("user_id", "c_id", "c_ts")
      .withWatermark("c_ts", "2 hours")
    val purchases = purchMem.toDF().toDF("user_id", "p_id", "p_ts")
      .withWatermark("p_ts", "2 hours")
    val q = graft.operators.WindowOps.intervalJoin(purchases, clicks)
      .writeStream.format("memory").queryName("sij_out")
      .outputMode("append").start()
    try {
      // user 1: click at 10:00 then purchase at 10:30 (in window) and at
      // 11:30 (outside); user 2's click belongs to a different user
      clicksMem.addData((1L, 100L, ts("2024-01-01 10:00:00")),
                        (2L, 200L, ts("2024-01-01 10:10:00")))
      purchMem.addData((1L, 900L, ts("2024-01-01 10:30:00")))
      q.processAllAvailable()
      purchMem.addData((1L, 901L, ts("2024-01-01 11:30:00")))
      q.processAllAvailable()
      val got = spark.sql("select p_id, c_id from sij_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((900L, 100L)))
      // identical plan, batch mode, same rows
      val batch = graft.operators.WindowOps.intervalJoin(
        Seq((1L, 900L, ts("2024-01-01 10:30:00")), (1L, 901L, ts("2024-01-01 11:30:00")))
          .toDF("user_id", "p_id", "p_ts"),
        Seq((1L, 100L, ts("2024-01-01 10:00:00")), (2L, 200L, ts("2024-01-01 10:10:00")))
          .toDF("user_id", "c_id", "c_ts"))
        .select("p_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch == got)
    } finally q.stop()
  }

  test("hourlyCounts matches batch groupBy on the same data") {
    import spark.implicits._
    val e = Tables.events(spark, sf).select(col("event_id").as("id"), col("ts"),
      col("props").as("raw"))
    val streaming = ArchiveStream.hourlyCounts(e).orderBy("hour").collect()
    val batch = e.groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n")).orderBy("hour").collect()
    assert(streaming.toSeq == batch.toSeq)
  }

  test("checkpoint crash-recovery: restart from the checkpoint dir converges on the uninterrupted run (G8)") {
    // The reference's whole correctness story is at-least-once delivery +
    // idempotent storage (ref: cmd/gh-load/main.go:257-261, README.md:14).
    // Demonstrated, not assumed: run the archive stream over a real file
    // source, crash it AFTER a sink append but BEFORE the micro-batch
    // commits (the at-least-once window), rebuild the query on a FRESH
    // session from the same checkpoint dir, drain, and require the
    // replace-by-key read to equal an uninterrupted control run. The
    // replayed batch leaves duplicate rows in storage by design; the
    // canonical read collapses them.
    import graft.sources.GhArchiveSource
    val src = Files.createTempDirectory("graft-crash-src-").toString
    def ev(id: Long, t: String) = s"""{"id":$id,"created_at":"$t"}"""
    val hours = Seq(
      "2024-01-15-0" -> Seq(ev(1, "2024-01-15T00:10:00Z"), ev(2, "2024-01-15T00:40:00Z")),
      "2024-01-15-1" -> Seq(ev(3, "2024-01-15T01:05:00Z"), ev(1, "2024-01-15T00:10:00Z")),
      "2024-01-15-2" -> Seq(ev(4, "2024-01-15T02:30:00Z")),
      "2024-01-16-0" -> Seq(ev(5, "2024-01-16T00:01:00Z")))
    hours.foreach { case (key, lines) =>
      val w = new java.io.PrintWriter(new java.io.OutputStreamWriter(
        new java.util.zip.GZIPOutputStream(
          new java.io.FileOutputStream(s"$src/$key.json.gz")), "UTF-8"))
      lines.foreach(w.println); w.close()
    }
    def canonical(dir: String): Seq[(Long, java.sql.Timestamp)] = {
      val stored = spark.read.parquet(dir)
      stored.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("id").orderBy("ts", "hour")))
        .filter(col("rn") === 1)
        .select("id", "ts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1))).sortBy(_._1).toSeq
    }
    val base = Files.createTempDirectory("graft-crash-").toString
    val (outA, ckptA) = (s"$base/a", s"$base/ckptA")
    // run 1: crash after batch 1's files are appended but before commit
    val crashed = ArchiveStream.archive(
      GhArchiveSource.readStream(spark, src, maxFilesPerTrigger = 1),
      outA, ckptA, Trigger.ProcessingTime("50 milliseconds"),
      afterWrite = bid => if (bid == 1) throw new RuntimeException("injected crash"))
    val failed =
      try { crashed.processAllAvailable(); false }
      catch { case _: Exception => true }
    assert(failed, "the injected crash must terminate the first run")
    assert(crashed.exception.isDefined)
    // run 2: REBUILD the query on a fresh session, same checkpoint + sink
    val s2 = spark.newSession()
    val resumed = ArchiveStream.archive(
      GhArchiveSource.readStream(s2, src, maxFilesPerTrigger = 1),
      outA, ckptA, Trigger.ProcessingTime("50 milliseconds"))
    try { resumed.processAllAvailable() } finally resumed.stop()
    // control: uninterrupted run over the same archive
    val (outB, ckptB) = (s"$base/b", s"$base/ckptB")
    val control = ArchiveStream.archive(
      GhArchiveSource.readStream(spark, src, maxFilesPerTrigger = 1),
      outB, ckptB, Trigger.ProcessingTime("50 milliseconds"))
    try { control.processAllAvailable() } finally control.stop()
    assert(canonical(outA) == canonical(outB),
      "post-recovery replace-by-key read must equal the uninterrupted run")
    assert(canonical(outA).map(_._1) == Seq(1L, 2L, 3L, 4L, 5L))
    // and the crash actually exercised the at-least-once window: the
    // replayed batch's rows are present at least twice in raw storage
    assert(spark.read.parquet(outA).count() >
      spark.read.parquet(outB).count(),
      "recovery must have re-appended the uncommitted batch")
  }

  test("streaming as-of: checkpoint crash-recovery converges on the uninterrupted run (G9)") {
    // Same fault-injection seam as the archive() G8 test, applied to the
    // STATEFUL operator: crash after a sink append but before the
    // micro-batch commits, rebuild on a fresh session from the checkpoint
    // (flatMapGroupsWithState state + file-source offsets both live there),
    // drain, and require the deduped output to equal an uninterrupted
    // control run AND the batch join_asof truth.
    val base = Files.createTempDirectory("graft-asof-crash-").toString
    val srcDir = s"$base/src"
    new java.io.File(srcDir).mkdirs()
    val eventsDf = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
      .select("user_id", "event_type", "event_id", "ts")
    val schema = eventsDf.schema
    val all = eventsDf.orderBy("ts", "event_id").collect()
    // 4 ts-ordered chunk files with strictly increasing mod times: the file
    // source lists by mod time, so with maxFilesPerTrigger=1 replay order
    // equals event-time order (the archive replay contract)
    all.grouped((all.length + 3) / 4).zipWithIndex.foreach { case (chunk, i) =>
      val df = spark.createDataFrame(
        java.util.Arrays.asList(chunk: _*), schema)
      val tmp = s"$base/tmp$i"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(srcDir, f"chunk-$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(1700000000000L + i * 60000L))
    }
    def run(s: org.apache.spark.sql.SparkSession, out: String, ckpt: String,
            crashAt: Option[Long]) = {
      import s.implicits._
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
        .toDF("user_id", "event_type", "event_id", "ts")
        .as[(Long, String, Long, Timestamp)]
      graft.streaming.StateOps.streamingAsOf(src, watermark = "40 days")
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (df: org.apache.spark.sql.Dataset[graft.streaming.StateOps.AsOfMatch],
           bid: Long) =>
            df.write.mode("append").parquet(out)
            if (crashAt.contains(bid)) throw new RuntimeException("injected crash")
        }
        .start()
    }
    def canonical(out: String): Map[Long, Option[Timestamp]] =
      spark.read.parquet(out).dropDuplicates("p_id").collect()
        .map(r => r.getAs[Long]("p_id") ->
          Option(r.getAs[Timestamp]("click_ts"))).toMap
    val (outA, ckptA) = (s"$base/a", s"$base/ckptA")
    val crashed = run(spark, outA, ckptA, crashAt = Some(1L))
    val failed =
      try { crashed.processAllAvailable(); false }
      catch { case _: Exception => true }
    assert(failed, "the injected crash must terminate the first run")
    val s2 = spark.newSession()
    val resumed = run(s2, outA, ckptA, crashAt = None)
    try { resumed.processAllAvailable() } finally resumed.stop()
    val (outB, ckptB) = (s"$base/b", s"$base/ckptB")
    val control = run(spark, outB, ckptB, crashAt = None)
    try { control.processAllAvailable() } finally control.stop()
    assert(canonical(outA) == canonical(outB),
      "post-recovery as-of output must equal the uninterrupted run")
    val batch = SparkEntry.queries("join_asof")(spark, sf).collect()
      .map(r => r.getLong(0) -> Option(r.getTimestamp(3))).toMap
    assert(canonical(outA) == batch,
      "post-recovery as-of output must equal the batch join_asof truth")
    // the crash exercised the at-least-once window: the replayed batch's
    // rows appear at least twice in raw (pre-dedup) storage
    assert(spark.read.parquet(outA).count() > spark.read.parquet(outB).count(),
      "recovery must have re-appended the uncommitted batch")
  }

  test("applyTtl drops nothing younger than 3 days and everything older") {
    val e = Tables.events(spark, sf)
    val kept = ArchiveStream.applyTtl(e.withColumnRenamed("event_id", "id"))
    val mx = e.agg(max("ts")).head().getTimestamp(0)
    val cutoff = java.sql.Timestamp.from(mx.toInstant.minus(java.time.Duration.ofDays(3)))
    assert(kept.filter(col("ts") < lit(cutoff)).count() == 0)
    assert(kept.count() == e.filter(col("ts") >= lit(cutoff)).count())
  }
}
