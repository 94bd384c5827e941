package graft.flowbench

import java.sql.{Connection, DriverManager, SQLException, Timestamp}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.JdbcSync
import graft.sync.{Compaction, PartitionedSync, StateStore, SyncLogRepo, SyncRunner, TableConfig}

/** The embedded Derby database standing in for the JDBC source. */
object Derby {
  val DriverClass = "org.apache.derby.jdbc.EmbeddedDriver"

  def connect(db: String, create: Boolean = false): Connection = {
    Class.forName(DriverClass)
    DriverManager.getConnection(s"jdbc:derby:memory:$db${if (create) ";create=true" else ""}")
  }

  def drop(db: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true").close()
    catch { case _: SQLException => () } // Derby reports a successful drop as an exception

  /** Close a connection, ending its open read transaction first. */
  def close(c: Connection): Unit = { c.rollback(); c.close() }

  def create(c: Connection, withAccounts: Boolean): Unit = {
    val st = c.createStatement()
    st.execute("CREATE TABLE HISTORY (ID BIGINT NOT NULL PRIMARY KEY, DEVICE INT NOT NULL, " +
      "TS TIMESTAMP NOT NULL, VAL DOUBLE NOT NULL, STATUS VARCHAR(8) NOT NULL, NOTE VARCHAR(64) NOT NULL)")
    st.execute("CREATE INDEX HISTORY_TS ON HISTORY (TS)")
    if (withAccounts) {
      st.execute("CREATE TABLE ACCOUNTS (ID BIGINT NOT NULL PRIMARY KEY, NAME VARCHAR(16) NOT NULL, " +
        "TIER VARCHAR(12) NOT NULL, BALANCE DOUBLE NOT NULL, UPDATED_AT TIMESTAMP NOT NULL)")
      st.execute("CREATE INDEX ACCOUNTS_TS ON ACCOUNTS (UPDATED_AT)")
    }
    st.close()
  }

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  def insertHistory(c: Connection, rows: Seq[Gen.HistRow]): Unit = if (rows.nonEmpty) {
    val ps = c.prepareStatement("INSERT INTO HISTORY VALUES (?, ?, ?, ?, ?, ?)")
    rows.foreach { h =>
      ps.setLong(1, h.id); ps.setInt(2, h.device); ps.setTimestamp(3, ts(h.ts))
      ps.setDouble(4, h.value); ps.setString(5, h.status); ps.setString(6, h.note)
      ps.addBatch()
    }
    ps.executeBatch(); ps.close()
  }

  def insertAccounts(c: Connection, rows: Seq[Gen.AcctRow]): Unit = if (rows.nonEmpty) {
    val ps = c.prepareStatement("INSERT INTO ACCOUNTS VALUES (?, ?, ?, ?, ?)")
    rows.foreach { a =>
      ps.setLong(1, a.id); ps.setString(2, a.name); ps.setString(3, a.tier)
      ps.setDouble(4, a.balance); ps.setTimestamp(5, ts(a.updatedAt))
      ps.addBatch()
    }
    ps.executeBatch(); ps.close()
  }

  def commit(c: Connection, b: Gen.Batch): Unit = {
    insertHistory(c, b.histInserts)
    insertAccounts(c, b.acctInserts)
    if (b.histUpdates.nonEmpty) {
      val ps = c.prepareStatement(
        "UPDATE HISTORY SET DEVICE = ?, TS = ?, VAL = ?, STATUS = ?, NOTE = ? WHERE ID = ?")
      b.histUpdates.foreach { h =>
        ps.setInt(1, h.device); ps.setTimestamp(2, ts(h.ts)); ps.setDouble(3, h.value)
        ps.setString(4, h.status); ps.setString(5, h.note); ps.setLong(6, h.id)
        ps.addBatch()
      }
      ps.executeBatch(); ps.close()
    }
    if (b.acctUpdates.nonEmpty) {
      val ps = c.prepareStatement(
        "UPDATE ACCOUNTS SET NAME = ?, TIER = ?, BALANCE = ?, UPDATED_AT = ? WHERE ID = ?")
      b.acctUpdates.foreach { a =>
        ps.setString(1, a.name); ps.setString(2, a.tier); ps.setDouble(3, a.balance)
        ps.setTimestamp(4, ts(a.updatedAt)); ps.setLong(5, a.id)
        ps.addBatch()
      }
      ps.executeBatch(); ps.close()
    }
    c.commit()
  }

  /** Generate and load a fresh database; the connection stays open. */
  def load(db: String, gen: Gen.SyncGen, withAccounts: Boolean): Connection = {
    drop(db)
    val c = connect(db, create = true)
    c.setAutoCommit(false)
    create(c, withAccounts)
    insertHistory(c, gen.initialHistory())
    if (withAccounts) insertAccounts(c, gen.initialAccounts())
    c.commit()
    c
  }

  def fingerprint(c: Connection, table: String, cols: Seq[String]): (Long, Long) = {
    val st = c.createStatement()
    val rs = st.executeQuery(s"SELECT ${cols.mkString(", ")} FROM $table")
    val it = Iterator.continually(rs.next()).takeWhile(identity)
      .map(_ => cols.indices.map(i => rs.getObject(i + 1): Any))
    try Checks.fingerprint(it) finally { rs.close(); st.close() }
  }
}

/** A lake synced from one Derby database through the library's sync
  * entry points: `history` partitioned by day, `accounts` rewritten whole.
  */
final class SyncedLake(spark: SparkSession, root: String, db: String, var counting: Boolean,
                       spec: Gen.SyncSpec) {
  import SyncedLake._
  val lakeDir = s"$root/lake"
  val state = new StateStore(spark, s"$root/state")
  private val log = new SyncLogRepo(spark, s"$root/log")
  private def driver = if (counting) classOf[CountingDriver].getName else Derby.DriverClass

  private def source(cfg: TableConfig): DataFrame =
    JdbcSync.read(spark, JdbcSync.partitionedReadOptions(
      s"jdbc:derby:memory:$db", cfg.sourceTable, "ID", 1,
      if (cfg == History) spec.histRows else spec.acctRows, 4) + ("driver" -> driver))

  private val runner = new SyncRunner(spark, source, lakeDir, state, log)

  def syncHistory(): Unit = runner.syncTablePartitioned(History, DayBucket)
  def syncAccounts(): Unit = runner.syncTable(Accounts)
  def compact(): Compaction.CompactionStats = Compaction.compact(spark, historyPath)
  def historyPath = s"$lakeDir/history.parquet"
  def accountsPath = s"$lakeDir/accounts.parquet"
  def history: DataFrame = PartitionedSync.read(spark, historyPath)
  def accounts: DataFrame = spark.read.parquet(accountsPath)

  /** Data files under `dir`: path → (bytes, modification time). */
  def files(dir: String): Map[String, (Long, Long)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else {
      val it = fs.listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filter(s => s.getPath.getName.endsWith(".parquet"))
        .map(s => s.getPath.toString -> (s.getLen, s.getModificationTime)).toMap
    }
  }

  /** Target equals source, and no watermark is ahead of its target. */
  def check(conn: Connection, withAccounts: Boolean): Seq[String] = {
    def one(name: String, table: String, cols: Seq[String], df: DataFrame, tc: String) = {
      val target = Checks.fingerprint(df.select(cols.map(col): _*).collect().iterator.map(_.toSeq))
      Checks.sameTable(name, Derby.fingerprint(conn, table, cols), target) ++
        Checks.watermark(name, state.loadWatermark(name),
          df.agg(max(col(tc))).head().getTimestamp(0))
    }
    one("history", "HISTORY", HistoryCols, history, "TS") ++
      (if (withAccounts) one("accounts", "ACCOUNTS", AccountCols, accounts, "UPDATED_AT") else Nil)
  }
}

object SyncedLake {
  val History = TableConfig("APP", "HISTORY", "history", "ID", timeColumn = Some("TS"))
  val Accounts = TableConfig("APP", "ACCOUNTS", "accounts", "ID", timeColumn = Some("UPDATED_AT"))
  val DayBucket = date_format(col("TS"), "yyyy-MM-dd")
  val HistoryCols = Seq("ID", "DEVICE", "TS", "VAL", "STATUS", "NOTE")
  val AccountCols = Seq("ID", "NAME", "TIER", "BALANCE", "UPDATED_AT")
}

/** `sync_ingest`: one full pass over both tables, then incremental
  * passes, each after a committed change batch; compaction every
  * `CompactEvery` passes.
  */
object SyncFlow {
  val Spec = Gen.SyncSpec(histRows = 40000, acctRows = 15000, spanDays = 40,
    histInsert = 0.005, histUpdate = 0.003, recentRows = 2000, recentShare = 0.95,
    acctInsert = 0.002, acctUpdate = 0.005)
  val CompactEvery = 3

  def passes(seconds: Int): Int = math.max(4, seconds * 2 / 5)

  def run(spark: SparkSession, m: Meter, c: Flow.Conf): Flow.Outcome = {
    import c.{seed, seconds, work}
    val traced = m.traced
    // set-up: generate and load the source setupReps times (median
    // reported), then the full pass and one incremental pass (warm-up)
    var gen: Gen.SyncGen = null
    var conn: Connection = null
    val db = "sync"
    val loads = (0 until c.setupReps).map { _ =>
      // the previous repetition's database goes before the next is timed
      if (conn != null) { Derby.close(conn); Derby.drop(db) }
      Flow.timed {
        gen = new Gen.SyncGen(seed, Spec)
        conn = Derby.load(db, gen, withAccounts = true)
      }
    }
    val lake = new SyncedLake(spark, s"$work/sync", db, counting = traced, Spec)
    var attempted = 0
    var failed = 0
    def op(body: => Unit): Unit = {
      attempted += 1
      try body catch { case e: Exception => failed += 1; Flow.log(s"sync op failed: $e") }
    }

    // full pass (traced in a traced run)
    val j0 = CountingDriver.snap()
    op {
      m.withTracing(traced) {
        val t = Flow.timed(m.phase("sync.full", measured = false) {
          lake.syncHistory()
          lake.syncAccounts()
        })
        m.add("flow.sync_full_s", t)
      }
    }
    val jFull = CountingDriver.snap() - j0
    val rowBytes = if (traced) {
      val f = lake.files(lake.historyPath).values.map(_._1).sum + lake.files(lake.accountsPath).values.map(_._1).sum
      f.toDouble / (Spec.histRows + Spec.acctRows)
    } else 0.0

    lake.counting = false
    val warm = Flow.timed {
      Derby.commit(conn, gen.nextBatch())
      op { lake.syncHistory(); lake.syncAccounts() }
    }
    val setupS = Meter.quantile(loads, 0.5) + m.total("flow.sync_full_s") + warm
    Flow.log(f"setup: loads ${loads.map(t => f"$t%.2f").mkString(" ")} s, full pass " +
      f"${m.total("flow.sync_full_s")}%.2f s, warm-up pass $warm%.2f s")

    // measured incremental passes
    (0 until m.opCount(passes(seconds))).foreach { i =>
      val on = m.tracedOp(i)
      lake.counting = on
      val batch = gen.nextBatch()
      Derby.commit(conn, batch)
      val before =
        if (on) lake.files(lake.historyPath) ++ lake.files(lake.accountsPath)
        else Map.empty[String, (Long, Long)]
      m.settle()
      val j = CountingDriver.snap()
      op(m.withTracing(on) {
        val t = Flow.timed(m.phase("sync.pass") {
          val jh = CountingDriver.snap()
          m.span("sync.partitioned_s")(lake.syncHistory())
          if (on) m.add("jdbc.partitioned_statements", (CountingDriver.snap() - jh).statements)
          val ja = CountingDriver.snap()
          m.span("sync.table_s")(lake.syncAccounts())
          if (on) m.add("jdbc.table_statements", (CountingDriver.snap() - ja).statements)
        })
        m.addOp(on, t)
        if ((i + 1) % CompactEvery == 0) m.phase("sync.pass")(m.span("sync.compact_s")(lake.compact()))
      })
      if (on) {
        val d = CountingDriver.snap() - j
        m.add("jdbc.statements", d.statements)
        m.add("jdbc.rows_fetched", d.rows)
        m.add("jdbc.fetch_s", d.fetchS)
        m.add("jdbc.useful_frac", Meter.ratio(batch.size, d.rows))
        val after = lake.files(lake.historyPath) ++ lake.files(lake.accountsPath)
        val fresh = after.filter { case (k, v) => !before.get(k).contains(v) }
        val bytes = fresh.values.map(_._1).sum.toDouble
        m.add("sync.bytes_written", bytes)
        m.add("sync.table_bytes_written",
          fresh.filter(_._1.contains("/accounts.parquet/")).values.map(_._1).sum.toDouble)
        m.add("sync.files_written", fresh.size)
        m.add("sync.partitions_rewritten", fresh.keys.filter(_.contains("/history.parquet/"))
          .map(k => k.substring(0, k.lastIndexOf('/'))).toSet.size)
        m.count("bytes_written", bytes)
        m.count("changed_bytes", batch.size * rowBytes)
      }
    }
    m.settle()
    val checks = lake.check(conn, withAccounts = true)
    val targetFiles = if (traced) lake.files(lake.historyPath).size + lake.files(lake.accountsPath).size else 0
    Derby.close(conn)
    Derby.drop(db)

    val layer = if (!traced) Nil else Seq(
      "jdbc.statements_per_pass" -> m.median("jdbc.statements"),
      "jdbc.partitioned_statements_per_pass" -> m.median("jdbc.partitioned_statements"),
      "jdbc.table_statements_per_pass" -> m.median("jdbc.table_statements"),
      "jdbc.rows_fetched_per_pass" -> m.median("jdbc.rows_fetched"),
      "jdbc.fetch_s_per_pass" -> m.median("jdbc.fetch_s"),
      "jdbc.useful_frac" -> m.median("jdbc.useful_frac"),
      "jdbc.statements_full" -> jFull.statements.toDouble,
      "jdbc.rows_fetched_full" -> jFull.rows.toDouble,
      "jdbc.fetch_s_full" -> jFull.fetchS,
      "sync.bytes_written_per_pass" -> m.median("sync.bytes_written"),
      "sync.table_bytes_written_per_pass" -> m.median("sync.table_bytes_written"),
      "sync.files_written_per_pass" -> m.median("sync.files_written"),
      "sync.partitions_rewritten_per_pass" -> m.median("sync.partitions_rewritten"),
      "sync.target_files" -> targetFiles.toDouble,
      "flow.sync_write_amp" -> Meter.ratio(m.counted("bytes_written"), m.counted("changed_bytes")))
    Flow.Outcome(setupS, attempted, failed, checks, layer)
  }
}
