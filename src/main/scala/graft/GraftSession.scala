package graft

import org.apache.spark.sql.SparkSession

/** Canonical session construction for the engine's entry points
  * (Verify / Bench / Smoke / tests).
  *
  * Engine-required confs live HERE, at session build time, not inside query
  * builders: a builder mutating `spark.conf` mid-plan is a footgun the moment
  * two queries run concurrently in one session (one query's setting races
  * another's read). Every conf below is documented at its point of need:
  *
  *  - `nanosAsLong`: `events.ts` shipped as parquet TIMESTAMP(NANOS) through
  *    round 3, which Spark 4 refuses to read as a timestamp; with this conf
  *    it reads as raw long nanos and `Tables.events` truncates to µs. The
  *    round-4 testdata generation switched to TIMESTAMP(MICROS) — the conf
  *    stays so BOTH encodings load, and `Tables.events` dispatches on the
  *    loaded dtype (SURVEY.md §7.4.2, FIXTURES.md).
  *  - `objectHashAggregate.sortBased.fallbackThreshold`: ObjectHashAggregate
  *    (the TypedImperativeAggregate executor behind
  *    `functions.MinHashSignature`) falls back to sort-based aggregation
  *    after 128 groups/partition — a default sized for unbounded buffers
  *    (collect_list). The MinHash sketch buffer is a fixed 512 B, so 100k
  *    in-memory groups cost ~50 MB per task: keep the hash path, never pay
  *    a posting sort (measured 9 s -> 0.8 s on dedup_minhash).
  *  - `fs.file.impl` / `fs.AbstractFileSystem.file.impl`: the local
  *    filesystem for the FileSystem and FileContext APIs, as
  *    `InProcessLocalFileSystem` / `InProcessLocalFs` (LocalFs.scala).
  *    Without `libhadoop`, Hadoop forks a shell `chmod` for every file and
  *    directory it creates and a `readlink` for every FileContext rename:
  *    a JFR recording of one perfbench ingest run logged 2,886 process
  *    starts, ~100 per micro-batch (state-store deltas, offset/commit logs,
  *    sink commits). These classes do both in-process (6 starts left, all
  *    at JVM start-up and shutdown); archiver freshness p50 fell from 721
  *    to 402 ms (4 vCPUs, seed 101). Set here, before any `file:`
  *    FileSystem is cached.
  */
object GraftSession {
  val tuning: Seq[(String, String)] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // bucketed-table demo (join_bucketed) writes through the catalog;
    // keep the warehouse out of the repo working tree
    "spark.sql.warehouse.dir" ->
      s"${System.getProperty("java.io.tmpdir")}/graft-warehouse",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "100000",
    // Spark 4's recursive-CTE guard rail defaults to 1M TOTAL rows across
    // all iterations — a per-QUERY safety net, not a scale limit, and the
    // round-6 sf1 ramp tripped it: sql_recursive's ancestor walk emits
    // |customer| × ~12 depth rows (1.65M at sf1, growing linearly with
    // data). 100M keeps the runaway-recursion protection (the LEVEL limit
    // still applies) while letting row volume scale with the input; at
    // cluster scale this is the conf a deployment sizes alongside
    // shuffle.partitions.
    "spark.sql.cteRecursionRowLimit" -> "100000000",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.hadoop.fs.file.impl" -> classOf[InProcessLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[InProcessLocalFs].getName,
    "spark.ui.enabled" -> "false")

  /** Deployment-style conf overrides from the environment — the local-mode
    * analog of spark-defaults.conf: `SPARK_GRAFT_CONF="k=v;k=v"` is applied
    * LAST, so a harness (or a real deployment) can vary shuffle partition
    * counts, input split sizes, AQE, etc. without code changes. The
    * partition-invariance gate (tools/partition_invariance.py) drives
    * Verify through this hook under adversarial partitioning and requires
    * byte-identical results — the "1000 executors give the same answer"
    * property as a harness, not a claim.
    */
  private def envConf: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(_.split(";")).flatMap {
      kv => kv.split("=", 2) match {
        // trim BEFORE the guard: a malformed entry like " =v" must be
        // skipped, not applied as an empty-key conf (ADVICE r8)
        case Array(k, v) if k.trim.nonEmpty => Some(k.trim -> v.trim)
        case _ => None
      }
    }

  /** local[cpus] builder with the engine confs applied; callers add their
    * surface-specific confs (output timestamp type, app name) on top.
    */
  def builder(cpus: String): SparkSession.Builder =
    (tuning ++ envConf).foldLeft(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)) {
      case (b, (k, v)) => b.config(k, v)
    }
}
