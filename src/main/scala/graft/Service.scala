package graft

/** The reference's two binaries as library entry points (thin mains over
  * the tested pipeline pieces — a reference user's operational surface):
  *
  *  - `graft.Service` ≙ `gh-archived` (ref: cmd/gh-archived/main.go): the
  *    long-running archiver — catch up on the backlog, then poll at an
  *    adapted rate, periodically force-merging small files with TTL
  *    retention, until killed.
  *  - `graft.Backfill` ≙ `gh-load` (ref: cmd/gh-load/main.go:301-314): a
  *    bounded hour-range load into the same day-partitioned archive.
  */
object Service {
  /** Usage: runMain graft.Service <archiveDir> <outDir> <checkpointDir>
    *        [compactEveryNBatches=12] [ttlDays=3]
    */
  def main(args: Array[String]): Unit = {
    val Array(archiveDir, outDir, ckptDir, rest @ _*) = args
    val compactEvery = rest.headOption.map(_.toInt).getOrElse(12)
    val ttlDays = rest.lift(1).map(_.toInt).getOrElse(3)
    val spark = GraftSession.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (rate, paced) = sources.GhArchiveSource.catchUpThenPace(
      spark, archiveDir, outDir, ckptDir)
    println(s"[graft.Service] caught up; paced at $rate files/trigger, " +
      s"compacting every $compactEvery batches, TTL $ttlDays days")
    // the paced query from catchUpThenPace has no compaction hook — restart
    // it with the service's merge + retention policy (checkpoint carries on)
    paced.stop()
    val q = streaming.ArchiveStream.archive(
      sources.GhArchiveSource.readStream(spark, archiveDir, rate),
      outDir, ckptDir, compactEvery = compactEvery)
    sys.addShutdownHook {
      q.stop()
      streaming.ArchiveStream.compact(spark, outDir, ttlDays = Some(ttlDays))
      ()
    }
    q.awaitTermination()
  }
}

/** Bounded hour-range backfill (ref: cmd/gh-load/main.go): list only the
  * in-range hour files, decode, dedup by id, write the same
  * day-partitioned sorted zstd layout the service appends to.
  *
  * Usage: runMain graft.Backfill <archiveDir> <outDir>
  *        <fromHour e.g. 2024-01-15-0> <toHourExclusive>
  */
object Backfill {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    val Array(archiveDir, outDir, from, to) = args
    val spark = GraftSession.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rows = sources.GhArchiveSource.read(spark, archiveDir,
        from = Some(sources.GhArchiveSource.parseHourKey(from)),
        to = Some(sources.GhArchiveSource.parseHourKey(to)))
      .dropDuplicates("id")
      .withColumn("d", to_date(col("ts")))
      .repartition(col("d"))
      .sortWithinPartitions("d", "ts", "id")
    rows.write.mode("append")
      .option("compression", "zstd")
      .partitionBy("d")
      .parquet(outDir)
    println(s"[graft.Backfill] loaded hours [$from, $to) into $outDir")
    spark.stop()
  }
}
