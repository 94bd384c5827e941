package graft


import org.apache.spark.sql.functions._

import graft.sync.{StateStore, SyncOps, TypeMapper}

class SyncOpsSpec extends SparkSpec {
  import spark.implicits._

  private def mkEvents = Seq(
    (1L, "2024-01-01 10:00:00", 1L, "click", 1.0),
    (2L, "2024-01-01 10:05:00", 1L, "click", 2.0),
    (3L, "2024-01-01 11:00:00", 2L, "view", 3.0),
    (4L, "2024-01-01 09:00:00", 2L, "click", 4.0),
  ).toDF("event_id", "ts_s", "user_id", "event_type", "value")
    .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")

  test("incremental keeps only rows past the watermark, time-ordered") {
    val got = SyncOps.incremental(mkEvents, "ts", "2024-01-01 10:00:00", Seq("event_id"))
      .select("event_id").as[Long].collect()
    assert(got.toSeq == Seq(2L, 3L))
  }

  test("watermark tail over timestamp, long and string time columns") {
    val store = new StateStore(spark, tempDir("graft-wm"))
    // (time type, three ascending values; the middle one is the watermark)
    val cases = Seq(
      ("timestamp", Seq("2024-01-01 10:00:00", "2024-01-01 10:00:05", "2024-01-01 10:00:09")),
      ("long", Seq("10", "20", "30")),
      ("string", Seq("a", "b", "c")))
    for ((tpe, vs) <- cases) {
      val df = vs.toDF("s").select(col("s").cast(tpe).as("t"), lit(1).as("v"))
      // a row EQUAL to the watermark is not past it; count and max come
      // back together from the rows that are
      val fresh = df.filter(SyncOps.pastWatermark(df, "t", vs(1)))
      val tail = SyncOps.tailOf(fresh, Some("t"))
      assert(tail == SyncOps.Tail(1L, Some(vs(2))), tpe)
      // the max string survives StateStore and, read back, filters the
      // same data to nothing
      store.saveWatermark(tpe, tail.maxTime.get)
      val back = store.loadWatermark(tpe).get
      assert(back == vs(2), tpe)
      assert(SyncOps.tailOf(df.filter(SyncOps.pastWatermark(df, "t", back)), Some("t")) ==
        SyncOps.Tail(0L, None), tpe)
      // without a time column the tail is a count alone
      assert(SyncOps.tailOf(df, None) == SyncOps.Tail(3L, None), tpe)
    }
  }

  test("upsertKeepLatest keeps the newest row per key") {
    val got = SyncOps.upsertKeepLatest(mkEvents, Seq("user_id"), "ts", "event_id")
      .select("event_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(2L, 3L))
  }

  test("dedupKeepLast on (user, type) keeps last occurrence in time order") {
    val got = SyncOps.dedupKeepLast(mkEvents, Seq("user_id", "event_type"), "ts", "event_id")
      .select("event_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(2L, 3L, 4L))
  }

  test("mergeSlices preserves duplicates and restores time order") {
    val a = mkEvents.filter(col("event_id") <= 2)
    val b = mkEvents.filter(col("event_id") >= 2)
    val got = SyncOps.mergeSlices(a, b, "ts", Seq("event_id"))
    assert(got.count() == 5) // event 2 duplicated, like the reference's concat
    assert(got.select("event_id").as[Long].head() == 4L) // earliest ts first
  }

  test("applyIncremental: fresh rows replace stale versions per key") {
    val target = mkEvents
    val fresh = Seq(
      (5L, "2024-01-01 12:00:00", 1L, "click", 9.0), // newer for user 1
      (6L, "2024-01-01 08:00:00", 3L, "view", 7.0),  // brand-new user 3
    ).toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val got = SyncOps.applyIncremental(target, fresh, Seq("user_id"), "ts", "event_id")
      .select("user_id", "event_id").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 5L, 2L -> 3L, 3L -> 6L))
  }

  test("reconcile reports missing/changed keys, stays silent on matches") {
    val source = Seq(
      (1L, "A", "hi"), (2L, "B", "hi"), (3L, "C", null.asInstanceOf[String]),
      (4L, "D", ""),
    ).toDF("k", "status", "note")
    val target = Seq(
      (1L, "A", "hi"),                          // match -> absent
      (2L, "B", "CHANGED"),                     // changed
      (3L, "C", ""),                            // null vs "" IS a change
      (9L, "Z", "alien"),                       // missing_in_source
    ).toDF("k", "status", "note")               // 4 missing_in_target
    val got = SyncOps.reconcile(source, target, Seq("k"), Seq("status", "note"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(
      2L -> "changed",
      3L -> "changed",
      4L -> "missing_in_target",
      9L -> "missing_in_source"))
  }

  test("detectDeletes/applyDeletes: vanished keys out, new source keys ignored") {
    val target = mkEvents // users 1, 2
    val sourceKeys = Seq( // user 2 gone at source; user 9 is new there
      (1L, "whatever"), (1L, "dupe row"), (9L, "new"),
    ).toDF("user_id", "noise")
    val tomb = SyncOps.detectDeletes(target, sourceKeys, Seq("user_id"))
    assert(tomb.select("user_id").as[Long].collect().toSet == Set(2L))
    assert(tomb.columns.toSeq == target.columns.toSeq) // full target rows
    val kept = SyncOps.applyDeletes(target, sourceKeys, Seq("user_id"))
    assert(kept.select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // tombstones + survivors tile the target exactly
    assert(tomb.count() + kept.count() == target.count())
  }

  test("applyChangeLog: last op wins, deletes drop, inserts add, untouched pass") {
    val target = mkEvents // events 1,2 (user 1), 3,4 (user 2), keyed by event_id
    val log = Seq(
      // event 1: update then delete -> gone
      (1L, "update", 1, 9.0), (1L, "delete", 2, 0.0),
      // event 2: delete then RE-insert -> present with the new value
      (2L, "delete", 1, 0.0), (2L, "insert", 2, 7.5),
      // event 99: brand-new insert
      (99L, "insert", 1, 5.0),
    ).toDF("event_id", "op", "ver", "value")
      .withColumn("ts", lit("2024-02-01 00:00:00").cast("timestamp"))
      .withColumn("user_id", lit(42L))
      .withColumn("event_type", lit("cdc"))
    val got = SyncOps.applyChangeLog(target, log, Seq("event_id"),
      "op", "ver", "event_id")
    assert(got.columns.toSeq == target.columns.toSeq)
    val byId = got.select("event_id", "value").as[(Long, Double)].collect().toMap
    assert(byId == Map(2L -> 7.5, 3L -> 3.0, 4L -> 4.0, 99L -> 5.0))
  }

  test("scd2: runs collapse, intervals tile half-open, null-safe attrs") {
    val feed = Seq(
      // user 1: A, A (extends), B, A again — three versions
      (1L, "2024-01-01 10:00:00", 1L, "A"),
      (2L, "2024-01-01 10:05:00", 1L, "A"),
      (3L, "2024-01-01 10:10:00", 1L, "B"),
      (4L, "2024-01-01 10:20:00", 1L, "A"),
      // user 2: null attr is a VALUE — null, null extends, then C
      (5L, "2024-01-01 09:00:00", 2L, null.asInstanceOf[String]),
      (6L, "2024-01-01 09:30:00", 2L, null.asInstanceOf[String]),
      (7L, "2024-01-01 09:45:00", 2L, "C"),
    ).toDF("event_id", "ts_s", "user_id", "event_type")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val got = SyncOps.scd2(feed, Seq("user_id"), Seq("event_type"), "ts", "event_id")
      .select(col("user_id"), col("event_type"),
        col("valid_from").cast("string"), col("valid_to").cast("string"),
        col("is_current"))
      .as[(Long, String, String, String, Boolean)].collect().toSet
    assert(got == Set(
      (1L, "A", "2024-01-01 10:00:00", "2024-01-01 10:10:00", false),
      (1L, "B", "2024-01-01 10:10:00", "2024-01-01 10:20:00", false),
      (1L, "A", "2024-01-01 10:20:00", null, true),
      (2L, null, "2024-01-01 09:00:00", "2024-01-01 09:45:00", false),
      (2L, "C", "2024-01-01 09:45:00", null, true)))
    // exactly one open interval per key; intervals tile (valid_to of
    // each closed version == valid_from of the next)
    assert(got.count(_._5) == 2 && got.count(r => r._4 == null) == 2)
  }

  test("scd2 plans ONE exchange: both windows share the key partitioning") {
    val plan = SyncOps.scd2(mkEvents, Seq("user_id"), Seq("event_type"),
      "ts", "event_id").queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("scd2Delta == one-shot scd2 across any cutoff; extend, split, new key") {
    val feed = Seq(
      (1L, "2024-01-01 10:00:00", 1L, "A"),
      (2L, "2024-01-01 10:05:00", 1L, "A"),  // extends
      (3L, "2024-01-01 10:10:00", 1L, "B"),
      (4L, "2024-01-01 10:20:00", 1L, "A"),
      (5L, "2024-01-01 09:00:00", 2L, "C"),
      (6L, "2024-01-01 11:00:00", 2L, "C"),  // post-cut extend of the open interval
      (7L, "2024-01-01 12:00:00", 3L, "X"),  // brand-new key after the cut
    ).toDF("event_id", "ts_s", "user_id", "event_type")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id"), col("event_type"),
        col("valid_from").cast("string"), col("valid_to").cast("string"),
        col("is_current"))
        .as[(Long, String, String, String, Boolean)].collect().toSet
    val oneShot = canon(SyncOps.scd2(feed, Seq("user_id"), Seq("event_type"),
      "ts", "event_id"))
    // every cutoff between events must reconstruct the same history
    Seq("10:04:00", "10:10:00", "10:30:00", "08:00:00").foreach { hm =>
      val cut = lit(s"2024-01-01 $hm").cast("timestamp")
      val hist = SyncOps.scd2(feed.filter(col("ts") <= cut),
        Seq("user_id"), Seq("event_type"), "ts", "event_id")
      val got = canon(SyncOps.scd2Delta(hist, feed.filter(col("ts") > cut),
        Seq("user_id"), Seq("event_type"), "ts", "event_id"))
      assert(got == oneShot, s"cutoff $hm")
    }
    // folding wave by wave also converges
    val waves = Seq("10:05:00", "10:20:00", "23:59:59")
    var hist = SyncOps.scd2(
      feed.filter(col("ts") <= lit("2024-01-01 10:00:00").cast("timestamp")),
      Seq("user_id"), Seq("event_type"), "ts", "event_id")
    var lo = "2024-01-01 10:00:00"
    waves.foreach { hm =>
      val hi = s"2024-01-01 $hm"
      hist = SyncOps.scd2Delta(hist,
        feed.filter(col("ts") > lit(lo).cast("timestamp") &&
          col("ts") <= lit(hi).cast("timestamp")),
        Seq("user_id"), Seq("event_type"), "ts", "event_id")
      lo = hi
    }
    assert(canon(hist) == oneShot)
  }

  test("evolveSchema: widening ladder, null fills, column order, incompatible rejected") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val target = Seq((1L, 1.5f, "old", 10), (2L, 2.5f, "keep", 20))
      .toDF("id", "price", "note", "v")
    val batch = Seq((2L, 9.5, "B", 21), (3L, 3.5, "C", 30))
      .toDF("id", "price", "status", "v")
    val (t2, b2) = SyncOps.evolveSchema(target, batch)
    // merged layout: target cols first, then the batch's new column
    assert(t2.columns.toSeq == Seq("id", "price", "note", "v", "status"))
    assert(t2.schema == b2.schema)
    assert(t2.schema("price").dataType == DoubleType) // float widened
    // null fills on both sides
    assert(t2.select("status").collect().forall(_.isNullAt(0)))
    assert(b2.select("note").collect().forall(_.isNullAt(0)))
    // evolved upsert: v1 wins for key 2, key 1 keeps v0, key 3 arrives
    val up = SyncOps.applyIncrementalEvolved(target, batch, Seq("id"), "v", "id")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), Option(r.getString(2)), r.getInt(3),
          Option(r.getString(4))))).toMap
    assert(up(1L) == ((1.5f.toDouble, Some("old"), 10, None)))
    assert(up(2L) == ((9.5, None, 21, Some("B"))))
    assert(up(3L) == ((3.5, None, 30, Some("C"))))
    // integral ladder: int vs long -> long
    val (ti, bi) = SyncOps.evolveSchema(
      Seq((1, 1)).toDF("id", "n"), Seq((1L, 2L)).toDF("id", "n"))
    assert(ti.schema("n").dataType == LongType &&
      bi.schema("id").dataType == LongType)
    // exact int->double promotion allowed; long->double rejected
    assert(SyncOps.evolveSchema(
      Seq((1, 1)).toDF("id", "x"),
      Seq((1, 1.5)).toDF("id", "x"))._1.schema("x").dataType == DoubleType)
    intercept[IllegalArgumentException] {
      SyncOps.evolveSchema(
        Seq((1L, 1L)).toDF("id", "x"), Seq((1L, 1.5)).toDF("id", "x"))
    }
    intercept[IllegalArgumentException] {
      SyncOps.evolveSchema(
        Seq((1L, "s")).toDF("id", "x"), Seq((1L, 1)).toDF("id", "x"))
    }
  }

  test("TypeMapper follows the reference precedence") {
    assert(TypeMapper.mapSourceType("NUMBER(10,2)") == "DOUBLE")
    assert(TypeMapper.mapSourceType("VARCHAR2(100)") == "STRING")
    assert(TypeMapper.mapSourceType("DATE") == "TIMESTAMP")
    assert(TypeMapper.mapSourceType("TIMESTAMP(6)") == "TIMESTAMP")
    assert(TypeMapper.mapSourceType("CLOB") == "STRING")
  }
}
