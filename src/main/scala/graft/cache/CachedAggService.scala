package graft.cache

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables
import graft.ops.IncrementalAgg
import graft.sync.SyncOps

/** Cached TIME-BUCKET AGGREGATES: the dashboard-latency core of the
  * reference's caching layer married to mergeable aggregate state.
  *
  * Where [[CachedQueryService]] caches raw rows, this caches the
  * bucket STATE (count / decimal sum / min / max per bucket) and
  * refreshes it by aggregating ONLY the watermark tail and merging —
  * `state(old ∪ fresh) = merge(state(old), state(fresh))` exactly
  * (IncrementalAgg's decimal-sum argument), so a refresh is
  * bit-identical to a full recompute while reading only new rows.
  *
  * At 100 TB: the cached state is buckets × 4 values (tiny — it
  * broadcasts), the refresh scan is a pushed time-range predicate, and
  * the merge shuffles state rows, never history. The tail's row count
  * and new watermark (its own max time) come from one action.
  *
  * Watermark contract (same as CachedQueryService): refresh reads rows
  * STRICTLY past the stored watermark. The bit-identical guarantee
  * holds for append-in-time-order sources; late arrivals that EQUAL
  * the watermark are out-of-order data — handle those with the
  * streaming path (event-time watermarks) or clearCache + rebuild.
  */
class CachedAggService(spark: SparkSession, dir: String,
                       cache: QueryCacheManager,
                       nowMillis: () => Long = () => System.currentTimeMillis()) {

  private def aggKey(timeCol: String, interval: String, valueCol: String) =
    Some(s"agg_${timeCol}_${interval.replace(' ', '_')}_$valueCol")

  /** The bucketed aggregate of `table`, served from cached state —
    * initial full aggregation on first call, merge-only refresh after.
    * Output shape matches `TimeBucketAgg.bucketed` (bucket_ts,
    * point_count, value_avg, value_min, value_max).
    */
  def aggregateWithCaching(table: String, timeCol: String, interval: String,
                           valueCol: String): CachedQueryResult =
    refresh(table, timeCol, aggKey(timeCol, interval, valueCol))(
      IncrementalAgg.bucketState(_, timeCol, interval, valueCol),
      IncrementalAgg.mergeStates, IncrementalAgg.readState)

  def clearCache(table: String, timeCol: String, interval: String,
                 valueCol: String): Unit =
    cache.clearCache(Some(table), aggKey(timeCol, interval, valueCol))

  private def histKey(timeCol: String, interval: String, valueCol: String,
                      lo: Double, hi: Double, nBins: Int) =
    Some(s"hist_${timeCol}_${interval.replace(' ', '_')}_${valueCol}_${lo}_${hi}_$nBins")

  /** Per-bucket quantiles served from cached HISTOGRAM state — same
    * merge-only refresh contract as [[aggregateWithCaching]], with the
    * same bit-identical guarantee (bin counts are exact integers, so
    * element-wise merge IS the recompute). The domain/bin parameters
    * are part of the cache key: changing them starts a fresh state.
    */
  def quantilesWithCaching(table: String, timeCol: String, interval: String,
                           valueCol: String, lo: Double, hi: Double,
                           nBins: Int, qs: Seq[Double]): CachedQueryResult =
    refresh(table, timeCol, histKey(timeCol, interval, valueCol, lo, hi, nBins))(
      IncrementalAgg.histState(_, timeCol, interval, valueCol, lo, hi, nBins),
      IncrementalAgg.mergeHistStates, IncrementalAgg.quantilesFromState(_, lo, hi, qs))

  /** The refresh behind both methods: take the tail past the cached
    * watermark (the whole table on the first call, or when the cached
    * state has no watermark), then serve the cached state as-is when
    * the tail is empty, or cache `merge(cached, build(tail))` — just
    * `build(tail)` on the first call — under the tail's watermark.
    * `read` turns a state into the answer.
    */
  private def refresh(table: String, timeCol: String, key: Option[String])(
      build: DataFrame => DataFrame, merge: (DataFrame, DataFrame) => DataFrame,
      read: DataFrame => DataFrame): CachedQueryResult = {
    val meta = if (cache.hasCache(table, key)) cache.getMetadata(table, key) else None
    val wm = meta.flatMap(_.lastTimestamp)
    val prior = if (wm.isDefined) meta.get.rowCount else 0L
    val base = Tables.loadNormalized(spark, dir, table)
    val fresh = wm.fold(base)(w => base.filter(SyncOps.pastWatermark(base, timeCol, w)))
    val tail = SyncOps.tailOf(fresh, Some(timeCol))
    val cached = wm.map(_ => cache.getCachedData(table, key).getOrElse(
      sys.error(s"cache metadata present but state missing for '$table' ${key.mkString}")))
    if (cached.isDefined && tail.rows == 0)
      CachedQueryResult(read(cached.get), isIncremental = true, prior, 0)
    else {
      val state = cached.fold(build(fresh))(merge(_, build(fresh)))
      val n = prior + tail.rows
      cache.setCachedData(table, state,
        CachedQueryMetadata(tail.maxTime, n, nowMillis()), key)
      val back = cache.getCachedData(table, key).getOrElse(state)
      CachedQueryResult(read(back), isIncremental = cached.isDefined, n, tail.rows)
    }
  }
}
