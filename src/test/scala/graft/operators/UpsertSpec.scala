package graft.operators

import graft.SparkTestBase

class UpsertSpec extends SparkTestBase {
  import spark.implicits._

  private def snap = Seq(
    (1L, "one-v1", 1L, false),
    (2L, "two-v1", 1L, false),
    (3L, "three-v1", 1L, false)
  ).toDF("id", "payload", "version", "is_delete")

  test("update wins, insert appears, untouched rows survive") {
    val updates = Seq(
      (2L, "two-v2", 2L, false), // update
      (9L, "nine-v2", 2L, false) // insert (key not in snapshot)
    ).toDF("id", "payload", "version", "is_delete")
    val got = Upsert.mergeSnapshot(snap, updates, Seq("id"), "version",
        Some("is_delete"))
      .select("id", "payload").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "one-v1", 2L -> "two-v2", 3L -> "three-v1",
      9L -> "nine-v2"))
  }

  test("tombstone deletes; a later version resurrects the key") {
    val updates = Seq(
      (1L, "gone", 2L, true),       // delete key 1
      (3L, "gone", 2L, true),       // delete key 3...
      (3L, "three-v3", 3L, false)   // ...but v3 re-inserts it
    ).toDF("id", "payload", "version", "is_delete")
    val got = Upsert.mergeSnapshot(snap, updates, Seq("id"), "version",
        Some("is_delete"))
      .select("id", "payload").as[(Long, String)].collect().toMap
    assert(got == Map(2L -> "two-v1", 3L -> "three-v3"))
  }

  test("equal version: the update outranks the snapshot; ties are deterministic") {
    val updates = Seq((2L, "two-v1-corrected", 1L, false))
      .toDF("id", "payload", "version", "is_delete")
    val got = Upsert.mergeSnapshot(snap, updates, Seq("id"), "version",
        Some("is_delete"))
      .select("id", "payload").as[(Long, String)].collect().toMap
    assert(got(2L) == "two-v1-corrected")

    // two updates at the same version: survivor picked by content hash,
    // stable across runs and partitionings
    val dup = Seq((5L, "a", 1L, false), (5L, "b", 1L, false))
      .toDF("id", "payload", "version", "is_delete")
    val runs = (1 to 3).map { _ =>
      Upsert.mergeSnapshot(snap, dup.repartition(4), Seq("id"), "version",
          Some("is_delete"))
        .filter($"id" === 5L).select("payload").as[String].collect().head
    }
    assert(runs.distinct.size == 1)
  }

  test("plan: map-side-combined aggregation, one shuffle, no window") {
    val updates = Seq((2L, "two-v2", 2L, false))
      .toDF("id", "payload", "version", "is_delete")
    val plan = Upsert.mergeSnapshot(snap, updates, Seq("id"), "version", None)
      .queryExecution.executedPlan.toString
    // partial max_by before the exchange: hot keys shrink map-side
    assert(plan.contains("partial_max_by"), plan)
    assert(plan.sliding("Exchange".length).count(_ == "Exchange") == 1, plan)
    assert(!plan.contains("Window"), plan)
  }

  private def us(h: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")

  test("stateIntervals: runs collapse, last run open, same-ts ties historize in order") {
    val ev = Seq(
      // user 1: A A B A -> runs A[1,3) B[3,4) A[4,open)
      (1L, 10L, "A", us(1)), (1L, 11L, "A", us(2)),
      (1L, 12L, "B", us(3)), (1L, 13L, "A", us(4)),
      // user 2: two DIFFERENT states at the same ts — tie-break order,
      // first gets a zero-length interval
      (2L, 20L, "X", us(5)), (2L, 21L, "Y", us(5))
    ).toDF("user_id", "event_id", "event_type", "t")
    val got = Upsert.stateIntervals(ev, "user_id", "t", "event_type", "event_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3))
    def T(h: Int) = us(h).getTime * 1000L
    assert(got.toSeq == Seq(
      (1L, "A", T(1), T(3)), (1L, "B", T(3), T(4)), (1L, "A", T(4), -1L),
      (2L, "X", T(5), T(5)), (2L, "Y", T(5), -1L)),
      s"intervals: ${got.toSeq}")
  }

  test("stateIntervals: both windows share one key exchange (scale guard)") {
    val ev = Seq((1L, 10L, "A", us(1))).toDF("user_id", "event_id", "event_type", "t")
    val plan = Upsert.stateIntervals(ev, "user_id", "t", "event_type", "event_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
    assert(plan.sliding("Exchange".length).count(_ == "Exchange") == 1,
      s"lag and lead must reuse ONE key partitioning:\n$plan")
  }
}
