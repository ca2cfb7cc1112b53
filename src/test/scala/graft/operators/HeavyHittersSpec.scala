package graft.operators

import graft.SparkTestBase

class HeavyHittersSpec extends SparkTestBase {
  import spark.implicits._

  private def exact(items: Seq[String], minShare: Double): Map[String, Long] = {
    val n = items.size.toLong
    val threshold = math.ceil(minShare * n).toLong
    items.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= threshold).toMap
  }

  private def run(items: Seq[String], minShare: Double, parts: Int,
      sketchSize: Int = 0): Map[String, Long] = {
    val df = spark.createDataset(items).repartition(parts).toDF("item")
    HeavyHitters.heavyHitters(df, "item", minShare, sketchSize)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("matches the exact groupBy answer on a zipf-ish multiset") {
    val rnd = new scala.util.Random(42)
    // zipf-ish: item k appears ~ 5000/k times — a long tail below the
    // threshold plus a short head above it
    val items = rnd.shuffle((1 to 200).flatMap(k => Seq.fill(5000 / k)(s"w$k")))
    val minShare = 0.01
    assert(run(items, minShare, parts = 7) == exact(items, minShare))
  }

  test("threshold boundary: a count exactly at ceil(minShare*N) is kept, one below is dropped") {
    // N = 1000, minShare = 0.05 -> threshold 50
    val items = Seq.fill(50)("at") ++ Seq.fill(49)("below") ++
      (1 to 901).map(i => s"u$i")
    val got = run(items, 0.05, parts = 4)
    assert(got == Map("at" -> 50L))
  }

  test("survives an adversarial split where one partition would evict the hitter") {
    // partition-hostile layout: the heavy item is diluted across many
    // partitions full of distinct noise; MG guarantee must still keep
    // it in at least one partition (here: every partition, share 10%)
    val perPart = Seq.fill(30)("heavy") ++ (1 to 270).map(i => s"n$i")
    val items = (0 until 8).flatMap(p => perPart.map(s => if (s.startsWith("n")) s"$s-$p" else s))
    // heavy: 240 of 2400 = 10% share
    val got = run(items, 0.10, parts = 8)
    assert(got == Map("heavy" -> 240L))
  }

  test("empty input and all-null input return no rows") {
    val empty = spark.createDataset(Seq.empty[String]).toDF("item")
    assert(HeavyHitters.heavyHitters(empty, "item", 0.1).count() == 0L)
    val nulls = Seq[Option[String]](None, None).toDF("item")
    assert(HeavyHitters.heavyHitters(nulls, "item", 0.1).count() == 0L)
  }

  test("rejects a sketchSize below the superset guarantee") {
    val df = Seq("a", "b").toDF("item")
    intercept[IllegalArgumentException] {
      HeavyHitters.heavyHitters(df, "item", 0.01, sketchSize = 10)
    }
  }
}
