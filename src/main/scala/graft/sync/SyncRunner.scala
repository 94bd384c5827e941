package graft.sync

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Engine-side sync orchestration: one cycle per configured table.
  *
  * Reference: src/oracle_duckdb_sync/application/sync_service.py
  * (start_sync / get_status around the sync engine) and
  * agent/tools/sync_tools.py (StartSyncTool / GetSyncStatusTool) —
  * here the pieces already built compose into the full loop:
  *
  *   TableConfig (what to sync) → full or incremental decision from
  *   the StateStore watermark → the source tail past it, evaluated
  *   once ([[SyncOps.withTail]]) → landed in the target layout →
  *   watermark advanced to the landed rows' max → SyncLogRepo audit
  *   record.
  *
  * Two target layouts share that cycle: [[syncTable]] rewrites the
  * whole parquet target (temp + swap, since the merge plan READS the
  * current target); [[syncTablePartitioned]] rewrites only the
  * partitions a pass touches ([[PartitionedSync]]).
  *
  * `source` abstracts where rows come from (a parquet catalog in
  * tests, `JdbcSync.read` against a database in production) — the
  * runner is source-agnostic, like the reference's engine behind
  * SyncService.
  *
  * Scale: the incremental pull is a pushed watermark predicate; the
  * upsert is ONE shuffle on the primary key (AQE handles skew); the
  * target rewrite is the standard batch-upsert-to-immutable-storage
  * pattern. Nothing driver-side grows with table size.
  */
class SyncRunner(spark: SparkSession,
                 source: TableConfig => DataFrame,
                 targetDir: String,
                 state: StateStore,
                 log: SyncLogRepo) {

  private def targetPath(cfg: TableConfig) = s"$targetDir/${cfg.targetTable}.parquet"

  private def fs = new Path(targetDir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Read the current synced target (after at least one sync). */
  def target(cfg: TableConfig): DataFrame = spark.read.parquet(targetPath(cfg))

  private def writeTarget(cfg: TableConfig, df: DataFrame): Unit = {
    // temp + swap: an incremental merge plan reads the live target
    val tmp = new Path(targetDir, s".${cfg.targetTable}.parquet.tmp")
    df.write.mode("overwrite").parquet(tmp.toString)
    val p = new Path(targetPath(cfg))
    if (fs.exists(p)) fs.delete(p, true)
    fs.rename(tmp, p)
  }

  /** The stored watermark an incremental pass resumes from: None (a
    * full sync) without a time column, a watermark or a target.
    */
  private def resumeFrom(cfg: TableConfig): Option[String] =
    if (!cfg.hasTimeColumn) None
    else state.loadWatermark(cfg.targetTable)
      .filter(_ => fs.exists(new Path(targetPath(cfg))))

  /** One sync cycle for one table. Full on first run (or without a
    * time column); incremental past the stored watermark otherwise.
    * Every run leaves an audit record; failures are logged and
    * re-thrown.
    */
  def syncTable(cfg: TableConfig): SyncLogEntry = {
    val wm = resumeFrom(cfg)
    cycle(cfg, wm) { fresh =>
      SyncOps.withTail(fresh, cfg.timeColumn) { (rows, tail) =>
        if (wm.isEmpty) writeTarget(cfg, rows)
        else if (tail.rows > 0) writeTarget(cfg, SyncOps.applyIncremental(
          target(cfg), rows, Seq(cfg.primaryKey), cfg.timeColumn.get, cfg.primaryKey))
        tail
      }
    }
  }

  /** [[syncTable]] with a partition-pruned target ([[PartitionedSync]]):
    * the full sync writes the `bucket`-partitioned layout; incremental
    * merges rewrite ONLY partitions receiving fresh rows or holding a
    * stale version of a fresh key — the 100 TB path, where
    * [[syncTable]]'s whole-table rewrite would dominate every cycle.
    * Requires a time column (the bucket derives from it). Read the
    * result via [[PartitionedSync.read]] (the partition column is an
    * implementation detail). Watermark advances only after a
    * successful merge; a crash mid-overwrite replays idempotently.
    */
  def syncTablePartitioned(cfg: TableConfig, bucket: Column): SyncLogEntry = {
    require(cfg.hasTimeColumn,
      s"partitioned sync needs a time column on ${cfg.targetTable}")
    val wm = resumeFrom(cfg)
    cycle(cfg, wm) { fresh =>
      if (wm.isEmpty) SyncOps.withTail(fresh, cfg.timeColumn) { (rows, tail) =>
        PartitionedSync.writeFull(rows, bucket, targetPath(cfg))
        tail
      } else {
        val s = PartitionedSync.mergeIncremental(spark, targetPath(cfg), fresh,
          Seq(cfg.primaryKey), cfg.timeColumn.get, cfg.primaryKey, bucket)
        SyncOps.Tail(s.freshRows, s.maxTime)
      }
    }
  }

  /** Row-limited smoke sync — rehearse the pipeline on a bounded slice
    * before committing to a full pull (reference sync_engine.py:135
    * `test_sync`, default row_limit=100000: drops and rewrites the
    * target with at most `rowLimit` rows).
    *
    * The limit is applied at the SOURCE read, so Spark plans a
    * LocalLimit over the scan and stops consuming after `rowLimit`
    * rows per task (the V1 JDBC source does NOT push LIMIT into the
    * remote query — it stops fetching after the limit is satisfied,
    * which with `fetchsize` batching costs one or a few batches per
    * partition, not a full pull; to bound the remote side hard, wrap
    * the query with the dialect's own row-limit clause in `dbtable`).
    * The watermark is deliberately NOT advanced: a smoke run must not
    * make the next real incremental sync skip rows. Like the
    * reference, point `cfg.targetTable` at a scratch name if the live
    * target must survive the rehearsal — this overwrites it.
    */
  def testSync(cfg: TableConfig, rowLimit: Int = 100000): SyncLogEntry = {
    require(rowLimit > 0, s"rowLimit must be positive, got $rowLimit")
    cycle(cfg, None, test = true) { src =>
      SyncOps.withTail(src.limit(rowLimit), None) { (rows, tail) =>
        writeTarget(cfg, rows)
        tail
      }
    }
  }

  /** The cycle body behind [[syncTable]], [[syncTablePartitioned]] and
    * [[testSync]]: log the start, hand `land` the source rows past
    * `watermark` (all of them on a full or test sync), advance the
    * watermark to the [[SyncOps.Tail]] it returns — never on a test
    * sync, never to nothing (a pass that landed no rows keeps the old
    * watermark, or stays without one) — and log the outcome.
    */
  private def cycle(cfg: TableConfig, watermark: Option[String], test: Boolean = false)
                   (land: DataFrame => SyncOps.Tail): SyncLogEntry = {
    val entry = log.logStart(cfg.targetTable,
      if (test) "test" else if (watermark.isDefined) "incremental" else "full")
    try {
      val src = source(cfg)
      val tail = land(watermark.fold(src)(wm =>
        src.filter(SyncOps.pastWatermark(src, cfg.timeColumn.get, wm))))
      if (!test) tail.maxTime.foreach(state.saveWatermark(cfg.targetTable, _))
      log.logComplete(entry, tail.rows)
    } catch {
      case e: Throwable =>
        log.logFailure(entry, Option(e.getMessage).getOrElse(e.getClass.getName))
        throw e
    }
  }

  /** One table with the syncAll failure contract: a throw becomes a
    * failed audit record instead of aborting the rest of the pass.
    */
  private def syncOne(cfg: TableConfig): SyncLogEntry =
    try syncTable(cfg)
    catch {
      case e: Throwable =>
        // even if logging itself failed before writing the 'running'
        // record, report a failed entry rather than aborting the rest
        log.recentLogs(1, Some(cfg.targetTable)).headOption.getOrElse(
          SyncLogEntry("unlogged", cfg.targetTable, "full", "failed",
            0L, None, 0L, Some(Option(e.getMessage).getOrElse(e.getClass.getName))))
    }

  /** Sync every ENABLED config; disabled tables are skipped, one
    * table's failure doesn't stop the rest (the reference's worker
    * loop semantics). Returns the audit record per attempted table.
    */
  def syncAll(configs: TableConfigRepo): Seq[SyncLogEntry] =
    configs.syncTargets.map(syncOne)

  /** Cross-process exclusive variant of [[syncAll]]: acquire `lease`
    * first; if another process holds it, every enabled table gets a
    * terminal "skipped" audit record and NOTHING is read or written —
    * the reference's PID-lock semantics (state/sync_state.py:30-40).
    * While holding, the heartbeat is renewed between tables so a long
    * multi-table pass doesn't go stale mid-run (size the lease's
    * `staleMillis` above the slowest single-table sync). A FAILED
    * renewal means another process deposed us via stale takeover —
    * the pass STOPS WRITING immediately: remaining tables get
    * "skipped" audit records instead of racing the new holder. The
    * lease is released on exit (a crashed holder is covered by the
    * stale-takeover timeout instead).
    */
  def syncAllExclusive(configs: TableConfigRepo, lease: SyncLease): Seq[SyncLogEntry] =
    if (!lease.tryAcquire()) {
      val who = lease.holder.map { case (o, p, _) => s"$o (pid $p)" }.getOrElse("unknown")
      configs.syncTargets.map(cfg =>
        log.logTerminal(cfg.targetTable, "full", "skipped", 0L,
          s"sync lease held by $who"))
    } else try {
      var lost = false
      configs.syncTargets.map { cfg =>
        if (!lost && !lease.renew()) lost = true
        if (lost)
          log.logTerminal(cfg.targetTable, "full", "skipped", 0L,
            "sync lease lost mid-pass (deposed by a stale takeover)")
        else syncOne(cfg)
      }
    } finally lease.release()

  /** Single-table exclusive sync — see [[syncAllExclusive]]. */
  def syncTableExclusive(cfg: TableConfig, lease: SyncLease): SyncLogEntry =
    if (!lease.tryAcquire()) {
      val who = lease.holder.map { case (o, p, _) => s"$o (pid $p)" }.getOrElse("unknown")
      log.logTerminal(cfg.targetTable, "full", "skipped", 0L,
        s"sync lease held by $who")
    } else try syncTable(cfg) finally lease.release()

  /** Current status per target — last run + totals (GetSyncStatusTool). */
  def status(table: Option[String] = None): Seq[(SyncLogEntry, SyncLogStats)] =
    log.entries()
      .filter(e => table.forall(_ == e.table))
      .groupBy(_.table).values
      .map(runs => (runs.maxBy(_.startMillis), log.statistics(Some(runs.head.table))))
      .toSeq.sortBy(_._1.table)
}
