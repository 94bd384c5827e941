package graft.flowbench

import java.sql.Timestamp

/** The benchmark's own tests: generators are deterministic per seed and
  * differ across seeds, and every output check rejects a wrong answer.
  * No Spark session is needed.
  *
  *     python3 flowbench/run.py --self-test
  */
object SelfTest {
  private var passed = 0
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  private def expect(name: String)(ok: Boolean): Unit =
    if (ok) passed += 1 else failures += name

  private def syncDigest(seed: Long): String = {
    val g = new Gen.SyncGen(seed, SyncFlow.Spec.copy(histRows = 3000, acctRows = 1000))
    val batches = Seq.fill(3)(g.nextBatch())
    Gen.digest(Seq(Gen.histBytes(g.initialHistory()), Gen.acctBytes(g.initialAccounts())) ++
      batches.flatMap(b => Seq(Gen.histBytes(b.histInserts ++ b.histUpdates),
        Gen.acctBytes(b.acctInserts ++ b.acctUpdates))))
  }

  private def corpusDigest(seed: Long): String =
    Gen.digest(new Gen.CorpusGen(seed, CorpusFlow.Spec.copy(pages = 300, files = 2)).generate().files)

  def main(args: Array[String]): Unit = {
    // generators: same seed → same bytes; another seed → other bytes
    expect("sync generator is deterministic")(syncDigest(7) == syncDigest(7))
    expect("sync generator depends on the seed")(syncDigest(7) != syncDigest(8))
    expect("corpus generator is deterministic")(corpusDigest(7) == corpusDigest(7))
    expect("corpus generator depends on the seed")(corpusDigest(7) != corpusDigest(8))
    expect("dashboard session is deterministic")(DashFlow.session(7, 3) == DashFlow.session(7, 3))
    expect("dashboard session depends on the seed")(DashFlow.session(7, 3) != DashFlow.session(8, 3))
    val batch = new Gen.SyncGen(3, SyncFlow.Spec).nextBatch()
    expect("sync batch updates distinct keys")(batch.histUpdates.map(_.id).distinct.size == batch.histUpdates.size)
    expect("sync batch skews updates to recent rows")(
      batch.histUpdates.count(_.id > SyncFlow.Spec.histRows - SyncFlow.Spec.recentRows) >
        batch.histUpdates.size * 0.8)
    val kinds = new Gen.CorpusGen(3, CorpusFlow.Spec.copy(pages = 1500)).generate().kinds
    expect("corpus holds every page kind")(
      Seq("unique", "dup", "near_dup", "blocked", "boilerplate", "german", "short").forall(kinds.contains))

    // checks: accept the right answer, reject a wrong one
    val rows = Seq(Seq[Any](1L, "a", new Timestamp(1000L)), Seq[Any](2L, "b", new Timestamp(2000L)))
    val fp = Checks.fingerprint(rows.iterator)
    expect("fingerprint ignores row order")(Checks.fingerprint(rows.reverse.iterator) == fp)
    expect("sameTable accepts equal tables")(Checks.sameTable("t", fp, fp).isEmpty)
    expect("sameTable rejects a changed cell")(Checks.sameTable("t", fp,
      Checks.fingerprint(Iterator(rows(0), Seq[Any](2L, "c", new Timestamp(2000L))))).nonEmpty)
    expect("sameTable rejects a missing row")(
      Checks.sameTable("t", fp, Checks.fingerprint(rows.take(1).iterator)).nonEmpty)
    expect("sameTable rejects a duplicated row")(
      Checks.sameTable("t", fp, Checks.fingerprint((rows :+ rows(0)).iterator)).nonEmpty)

    val max = Timestamp.valueOf("2024-03-01 10:00:00")
    expect("watermark at the target max passes")(
      Checks.watermark("t", Some("2024-03-01 10:00:00"), max).isEmpty)
    expect("watermark past the target max fails")(
      Checks.watermark("t", Some("2024-03-01 10:00:01"), max).nonEmpty)
    expect("missing watermark fails")(Checks.watermark("t", None, max).nonEmpty)

    val agg = Seq(Seq[Any](new Timestamp(0L), 3L, 1.5, 1.0, 2.0), Seq[Any](new Timestamp(3600000L), 1L, 4.0, 4.0, 4.0))
    expect("equal aggregates pass")(Checks.sameAggregate("a", agg, agg.reverse).isEmpty)
    expect("a wrong bucket count fails")(Checks.sameAggregate("a", agg,
      Seq(agg(0), Seq[Any](new Timestamp(3600000L), 2L, 4.0, 4.0, 4.0))).nonEmpty)
    expect("a missing bucket fails")(Checks.sameAggregate("a", agg, agg.take(1)).nonEmpty)

    val xs = Seq(10L, 20L, 30L, 40L)
    expect("lttb with endpoints passes")(Checks.lttb("l", xs, 4, 10L, 40L).isEmpty)
    expect("lttb with too few points fails")(Checks.lttb("l", xs.take(3) :+ 40L, 5, 10L, 40L).nonEmpty)
    expect("lttb without the first point fails")(Checks.lttb("l", xs, 4, 5L, 40L).nonEmpty)
    expect("lttb without the last point fails")(Checks.lttb("l", xs, 4, 10L, 45L).nonEmpty)

    val curated = Seq(1L, 2L, 3L)
    val sharded = Seq(1L -> 0, 2L -> 3, 3L -> 1)
    expect("a partition of the curated docs passes")(Checks.shards(curated, sharded, 4).isEmpty)
    expect("a doc in two shards fails")(Checks.shards(curated, sharded :+ (1L -> 2), 4).nonEmpty)
    expect("a missing doc fails")(Checks.shards(curated, sharded.take(2), 4).nonEmpty)
    expect("an extra doc fails")(Checks.shards(curated, sharded :+ (9L -> 1), 4).nonEmpty)
    expect("a shard out of range fails")(Checks.shards(curated, Seq(1L -> 0, 2L -> 4, 3L -> 1), 4).nonEmpty)

    expect("a clean corpus passes")(Checks.corpusClean(Seq("a.com"), Set("b.net"), Seq("h1", "h2")).isEmpty)
    expect("a blocked domain fails")(Checks.corpusClean(Seq("a.com", "b.net"), Set("b.net"), Seq("h1")).nonEmpty)
    expect("a duplicate text fails")(Checks.corpusClean(Seq("a.com"), Set("b.net"), Seq("h1", "h1")).nonEmpty)

    failures.foreach(f => System.err.println(s"[selftest] FAILED: $f"))
    println(s"""{"selftest": {"passed": $passed, "failed": ${failures.size}}}""")
    System.exit(if (failures.isEmpty) 0 else 1)
  }
}
