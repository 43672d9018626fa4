package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

/** Hour-keyed archive source — the reference's backfill input
  * (ref: cmd/gh-load/main.go:46-99): a directory of `YYYY-MM-DD-H.json.gz`
  * NDJSON files, one per hour, gzip'd.
  *
  * Spark-first mapping:
  *  - the hour-range task generator (ref: cmd/gh-load/main.go:301-314)
  *    becomes LISTING-LEVEL pruning: `read(from, to)` enumerates only the
  *    in-range hour files and hands exactly those paths to the reader — at
  *    100 TB (years x 24 files) nothing outside the range is listed, opened,
  *    or scheduled, the file-granularity analog of partition pruning;
  *  - gzip + NDJSON line scan (ref: main.go:80-99) are native to the JSON
  *    datasource, one Spark task per (file-split) — the `-jobs` worker pool
  *    (ref: main.go:239-269) is Spark task parallelism;
  *  - the 100 MB line cap / abort-on-parse-error policy (ref: main.go:97-99,
  *    131-134) maps to reader modes: FAILFAST (the reference's behavior) or
  *    PERMISSIVE with a corrupt-record column (B3);
  *  - the hour key itself is surfaced as an `hour` timestamp column derived
  *    from `_metadata.file_path`, so downstream windows/joins can group by
  *    archive hour without re-parsing event time.
  *
  * The fixed projection schema mirrors Event.Parse (ref: internal/gh/gh.go:
  * 92-125): only `id` and `created_at` are interpreted; the payload stays
  * opaque in downstream use (schema-on-read via get_json_object).
  */
object GhArchiveSource {

  private val hourFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd-H")
  /** The hour-key shape, shared by the filename matcher and the column
    * extractor so the two can never drift; hour restricted to 0-23.
    */
  private val keyPattern = raw"\d{4}-\d{2}-\d{2}-(?:[01]?\d|2[0-3])"
  private val fileRe = ("^(" + keyPattern + raw")\.json\.gz$$").r

  /** Minimal read schema: the two fields the reference materializes. The
    * JSON reader prunes every other key at parse time (early projection,
    * ref: internal/gh/gh.go:115-120). GitHub sends `id` as a JSON string
    * (`"id":"30000089897"`), which a BIGINT field rejects in FAILFAST mode,
    * so it is read as STRING (a JSON number reads as its digits) and cast
    * to BIGINT by `eventId`, as `ArchiveStream.parseRaw` does.
    */
  val schema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("created_at", StringType)))

  /** `id` as BIGINT: a non-numeric id aborts a FAILFAST read like any
    * other parse error and is NULL in PERMISSIVE mode.
    */
  private def eventId(failFast: Boolean): Column =
    (if (failFast) col("id").cast(LongType) else col("id").try_cast(LongType))
      .as("id")

  /** Parse an hour key ("2024-01-15-7") to its LocalDateTime. */
  def parseHourKey(key: String): LocalDateTime =
    LocalDateTime.parse(key, hourFmt)

  /** List the hour files of `dir` whose hour lies in [from, to) — pure
    * driver-side listing, no Spark job. Returns (path, hourKey) in
    * CHRONOLOGICAL order (key strings don't sort chronologically: the hour
    * part is unpadded, so "…-10" < "…-2" lexicographically). Files that
    * don't parse as a valid calendar hour are skipped like any other
    * non-hour file — a stray artifact must never abort the whole listing.
    */
  def listHours(dir: String, from: Option[LocalDateTime] = None,
                to: Option[LocalDateTime] = None): Seq[(String, String)] = {
    val d = new java.io.File(dir)
    val files = Option(d.listFiles()).getOrElse(Array.empty).toSeq
    files.flatMap { f =>
      f.getName match {
        case fileRe(key) =>
          scala.util.Try(parseHourKey(key)).toOption.flatMap { h =>
            val in = from.forall(!h.isBefore(_)) && to.forall(h.isBefore(_))
            if (in) Some((f.getAbsolutePath, key, h)) else None
          }
        case _ => None
      }
    }.sortBy(_._3.toEpochSecond(java.time.ZoneOffset.UTC)).map(t => (t._1, t._2))
  }

  /** Batch read of an hour range as (id, created_at ts, raw, hour).
    * `failFast = true` reproduces the reference's abort-on-parse-error
    * (ref: cmd/gh-load/main.go:131-134); false keeps malformed rows with
    * null fields (PERMISSIVE).
    */
  def read(spark: SparkSession, dir: String,
           from: Option[LocalDateTime] = None, to: Option[LocalDateTime] = None,
           failFast: Boolean = true): DataFrame = {
    val paths = listHours(dir, from, to).map(_._1)
    require(paths.nonEmpty, s"no hour files in range under $dir")
    val raw = spark.read
      .schema(schema.add("_corrupt_record", StringType))
      .option("mode", if (failFast) "FAILFAST" else "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(paths: _*)
      .select(col("id"), col("created_at"), col("_metadata.file_path").as("fp"))
    raw.select(
      eventId(failFast),
      to_timestamp(col("created_at")).as("ts"),
      // TIMESTAMP_NTZ: the hour key is a calendar label (the reference's
      // archive key, always UTC-hour-of-day), not an instant — NTZ keeps it
      // independent of the session timezone, where to_timestamp would shift
      // it in any non-UTC session
      to_timestamp_ntz(
        regexp_extract(col("fp"), "(" + keyPattern + raw")\.json\.gz$$", 1),
        lit("yyyy-MM-dd-H")).as("hour"))
  }

  /** Streaming read over the same directory — the live-poll analog (A1) for
    * offline use: new hour files are discovered per micro-batch, and
    * `maxFilesPerTrigger` is the rate-pacing knob (C6,
    * ref: cmd/gh-archived/main.go:180-193 adaptive pacing; here the
    * static Spark equivalent).
    *
    * Batch/stream parity: the glob can only approximate `fileRe` (globs
    * can't express hour <= 23), so rows are additionally filtered on the
    * SAME `keyPattern` applied to `_metadata.file_path` — an invalid-hour
    * artifact like `2024-01-15-99.json.gz` that `listHours` skips is dropped
    * here too. The derived `hour` column and the FAILFAST/PERMISSIVE policy
    * match `read` exactly.
    */
  /** C6 adaptive pacing controller (ref: cmd/gh-archived/main.go:180-193).
    * The reference recomputes its poll rate from rate-limit headers every
    * cycle; offline, the observable is batch wall time, and the controller
    * multiplicatively steers files-per-trigger toward `targetBatchMs`:
    * batches running fast admit more files next cycle, slow ones fewer.
    * Damped to a 2x step and clamped to [1, cap] — the reference's
    * rate-clamping analog — so one outlier batch never swings the rate.
    * Pure and side-effect free; `catchUpThenPace` wires it to a real query.
    */
  def adaptedMaxFiles(current: Int, observedBatchMs: Seq[Long],
                      targetBatchMs: Long, cap: Int = 64): Int = {
    require(current >= 1 && targetBatchMs > 0)
    if (observedBatchMs.isEmpty) current
    else {
      val avg = observedBatchMs.sum.toDouble / observedBatchMs.size
      val steered = current * (targetBatchMs / math.max(avg, 1.0))
      val damped = math.min(math.max(steered, current / 2.0), current * 2.0)
      math.max(1, math.min(cap, math.round(damped).toInt))
    }
  }

  /** Catch-up → paced steady state, Spark's natural form of the reference's
    * adaptive poll loop. A file-source query fixes `maxFilesPerTrigger` for
    * its lifetime, so adaptation happens at the restart boundary —
    * checkpointed offsets make the restart lossless (C8): first a
    * `Trigger.AvailableNow` pass drains the backlog (the gh-load backfill
    * mode) while observing per-batch wall times, then a `ProcessingTime`
    * query resumes from the same checkpoint with the controller-adapted
    * rate. Returns (adapted files-per-trigger, the running paced query).
    */
  def catchUpThenPace(spark: SparkSession, dir: String, outDir: String,
                      checkpointDir: String, targetBatchMs: Long = 5000L,
                      initialMaxFiles: Int = 1,
                      triggerInterval: String = "5 seconds"):
      (Int, org.apache.spark.sql.streaming.StreamingQuery) = {
    import org.apache.spark.sql.streaming.Trigger
    val catchUp = graft.streaming.ArchiveStream.archive(
      readStream(spark, dir, initialMaxFiles), outDir, checkpointDir,
      Trigger.AvailableNow())
    catchUp.awaitTermination()
    val observed = catchUp.recentProgress.toSeq
      .filter(_.numInputRows > 0)
      .flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong))
    val adapted = adaptedMaxFiles(initialMaxFiles, observed, targetBatchMs)
    val paced = graft.streaming.ArchiveStream.archive(
      readStream(spark, dir, adapted), outDir, checkpointDir,
      Trigger.ProcessingTime(triggerInterval))
    (adapted, paced)
  }

  def readStream(spark: SparkSession, dir: String,
                 maxFilesPerTrigger: Int = 1, failFast: Boolean = true): DataFrame =
    spark.readStream
      .schema(schema.add("_corrupt_record", StringType))
      .option("mode", if (failFast) "FAILFAST" else "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      // coarse listing-level cut: a stray summary.json.gz never enters the
      // stream; the keyPattern filter below finishes the job row-level
      .json(s"$dir/[0-9]*-[0-9]*-[0-9]*-[0-9]*.json.gz")
      .select(col("id"), col("created_at"),
        regexp_extract(col("_metadata.file_path"),
          "(?:^|/)(" + keyPattern + raw")\.json\.gz$$", 1).as("key"))
      .filter(col("key") =!= "")
      .select(
        eventId(failFast),
        to_timestamp(col("created_at")).as("ts"),
        // same NTZ calendar-label semantics as the batch `read` hour column
        to_timestamp_ntz(col("key"), lit("yyyy-MM-dd-H")).as("hour"))
}
