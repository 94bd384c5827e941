package graft.flowbench

import java.sql.{Connection, Timestamp}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.api.QueryService
import graft.cache.{CachedAggService, CachedQueryResult, CachedQueryService, ParquetCacheProvider, QueryCacheManager}
import graft.core.Tables
import graft.ops.{Lttb, TimeBucketAgg}

/** `dashboard_session`: one closed-loop client loading dashboard views
  * (a fixed sequence of overlapping queries, windows seeded) over a
  * synced lake, with a small synced tail of inserts landing between views.
  */
object DashFlow {
  val Spec = Gen.SyncSpec(histRows = 20000, acctRows = 0, spanDays = 14,
    histInsert = 0.002, histUpdate = 0.0, recentRows = 1, recentShare = 0.0,
    acctInsert = 0.0, acctUpdate = 0.0)
  val Threshold = 300

  /** One dashboard view, in the order its panels load, each panel with
    * its window width in days: cached bucket aggregates at three
    * intervals (each asked three times) and cached rows (asked three
    * times), an LTTB chart, table stats and an uncached 30-minute
    * aggregate. After a synced tail lands, the first ask of each cache
    * entry refreshes it and later asks reuse it: 4 refreshes, 8 hits and
    * 3 uncached queries, so the median query is a hit in every view.
    */
  val View: Seq[(String, String, Int)] = Seq(("agg", "1 hour", 2), ("rows", "", 1),
    ("lttb", "", 3), ("agg", "1 hour", 1), ("rows", "", 2), ("agg", "6 hours", 7),
    ("stats", "", 0), ("agg", "6 hours", 4), ("bucket", "30 minutes", 2), ("agg", "1 day", 7),
    ("agg", "1 day", 4), ("rows", "", 1), ("agg", "1 hour", 3), ("agg", "6 hours", 2),
    ("agg", "1 day", 1))
  val Intervals = View.collect { case ("agg", iv, _) => iv }.distinct

  final case class Query(kind: String, interval: String, lo: Long, hi: Long)

  def views(seconds: Int): Int = math.max(1, seconds / 8)

  /** The seeded session: `n` views; each window sits inside the data,
    * centred on one of four seeded anchors in the last 10 days, so
    * consecutive windows overlap.
    */
  def session(seed: Long, n: Int): Seq[Query] = {
    val r = Gen.rng(seed, "dashboard")
    val end = Gen.T0 + Spec.spanDays * 86400L
    val anchors = Seq.fill(4)(end - 86400L * 4 - r.nextInt(6 * 86400))
    Seq.fill(n)(View).flatten.map { case (kind, interval, days) =>
      val c = anchors(r.nextInt(anchors.size))
      Query(kind, interval, c - days * 43200L, c + days * 43200L)
    }
  }

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  final class Client(spark: SparkSession, lake: SyncedLake, cacheDir: String) {
    val cache = new QueryCacheManager(new ParquetCacheProvider(spark, cacheDir))
    val aggs = new CachedAggService(spark, lake.lakeDir, cache)
    val rows = new CachedQueryService(spark, lake.lakeDir, cache)
    val api = new QueryService(spark, lake.lakeDir)
    var lastLttb: Option[Query] = None

    private def inWindow(c: String, q: Query) = col(c) >= lit(ts(q.lo)) && col(c) < lit(ts(q.hi))

    /** Run one query to its collected result; returns the span name it
      * is filed under (kind and, for cached calls, hit/refresh/initial).
      */
    def run(q: Query): String = q.kind match {
      case "agg" =>
        val r = aggs.aggregateWithCaching("history", "TS", q.interval, "VAL")
        r.df.filter(inWindow("bucket_ts", q)).collect()
        s"cache.agg_${state(r)}_s"
      case "rows" =>
        val r = rows.queryWithCaching("history", limit = Int.MaxValue, timeCol = Some("TS"))
        r.df.filter(inWindow("TS", q)).limit(2000).collect()
        s"cache.rows_${state(r)}_s"
      case "lttb" =>
        lttb(q)
        lastLttb = Some(q)
        "ops.lttb_s"
      case "stats" =>
        api.tableStats("history").collect()
        "api.stats_s"
      case "bucket" =>
        api.queryAggregated("history", "TS", q.interval, Seq("VAL"))
          .filter(inWindow("bucket_ts", q)).collect()
        "ops.bucket_s"
    }

    private def lttb(q: Query) =
      Lttb.downsample(lake.history.filter(inWindow("TS", q)).select("TS", "VAL"),
        "TS", "VAL", Threshold).collect().map(_.getTimestamp(0).getTime).toSeq

    private def state(r: CachedQueryResult) =
      if (!r.isIncremental) "initial" else if (r.newRows > 0) "refresh" else "hit"

    /** Cached answers equal uncached recomputes over the same lake. */
    def check(): Seq[String] = {
      val base = Tables.loadNormalized(spark, lake.lakeDir, "history")
      val aggChecks = Intervals.flatMap { iv =>
        val cached = aggs.aggregateWithCaching("history", "TS", iv, "VAL").df
        val fresh = TimeBucketAgg.bucketed(base, "TS", iv, Seq("VAL"))
        Checks.sameAggregate(s"agg $iv", cached.collect().map(_.toSeq).toSeq,
          fresh.collect().map(_.toSeq).toSeq)
      }
      val cols = SyncedLake.HistoryCols.map(col)
      val cachedRows = rows.queryWithCaching("history", limit = Int.MaxValue, timeCol = Some("TS")).df
      val rowCheck = Checks.sameTable("rows cache",
        Checks.fingerprint(lake.history.select(cols: _*).collect().iterator.map(_.toSeq)),
        Checks.fingerprint(cachedRows.select(cols: _*).collect().iterator.map(_.toSeq)))
      // asked again on the final lake, outside the timed window
      val lttbCheck = lastLttb.toSeq.flatMap { q =>
        val b = lake.history.filter(inWindow("TS", q)).agg(min("TS"), max("TS")).head()
        Checks.lttb("lttb", lttb(q), Threshold, b.getTimestamp(0).getTime, b.getTimestamp(1).getTime)
      }
      aggChecks ++ rowCheck ++ lttbCheck
    }
  }

  def run(spark: SparkSession, m: Meter, c: Flow.Conf): Flow.Outcome = {
    import c.{seed, seconds, work}
    val traced = m.traced
    var gen: Gen.SyncGen = null
    var conn: Connection = null
    val db = "dash"
    val loads = (0 until c.setupReps).map { _ =>
      // the previous repetition's database goes before the next is timed
      if (conn != null) { Derby.close(conn); Derby.drop(db) }
      Flow.timed {
        gen = new Gen.SyncGen(seed, Spec)
        conn = Derby.load(db, gen, withAccounts = false)
      }
    }
    val lake = new SyncedLake(spark, s"$work/dash", db, counting = false, Spec)
    // set-up syncs the lake (a full pass, then one tail to warm the
    // incremental path) and opens the dashboard: each panel of the first
    // view once, on cold caches
    val session = DashFlow.session(seed, 1 + m.opCount(views(seconds)))
    val client = new Client(spark, lake, s"$work/cache")
    val once = Flow.timed {
      lake.syncHistory()
      Derby.commit(conn, gen.nextBatch())
      lake.syncHistory()
      session.take(View.size).distinctBy(q => (q.kind, q.interval)).foreach(client.run)
    }
    val setupS = Meter.quantile(loads, 0.5) + once
    Flow.log(f"setup: loads ${loads.map(t => f"$t%.2f").mkString(" ")} s, sync + first view $once%.2f s")

    var attempted = 0
    var failed = 0
    session.drop(View.size).grouped(View.size).zipWithIndex.foreach { case (view, v) =>
      val on = m.tracedOp(v)
      m.withTracing(on) {
        Derby.commit(conn, gen.nextBatch())
        m.settle()
        m.phase("dash.write")(m.span("dash.sync_s")(lake.syncHistory()))
        view.foreach { q =>
          attempted += 1
          try {
            val t0 = System.nanoTime()
            val name = m.phase("dash.query")(client.run(q))
            val t = (System.nanoTime() - t0) / 1e9
            m.addOp(on, t)
            m.add(name, t)
            if (name.endsWith("_refresh_s")) m.add("refresh_s", t)
            m.count(if (name.startsWith("cache.")) name.split('_')(1) else "uncached", 1)
          } catch { case e: Exception => failed += 1; Flow.log(s"view $v ${q.kind} query failed: $e") }
        }
      }
    }
    m.settle()
    val checks = client.check() ++ lake.check(conn, withAccounts = false)
    Derby.close(conn)
    Derby.drop(db)

    val layer = if (!traced) Nil else {
      val cacheFiles = {
        val p = new Path(s"$work/cache")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val it = fs.listFiles(p, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
      }
      val cached = Seq("hit", "refresh", "initial").map(m.counted).sum
      Seq(
        "cache.hit_frac" -> Meter.ratio(m.counted("hit"), cached),
        "cache.bytes" -> cacheFiles.filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum.toDouble,
        "cache.slices" -> cacheFiles.map(_.getPath.getParent).filter(_.getName.startsWith("slice-"))
          .distinct.size.toDouble)
    }
    Flow.Outcome(setupS, attempted, failed, checks, layer)
  }
}
