package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** q15's hot-key guard on a planted bot user: the theta-range join's
  * output is quadratic in events-per-user-inside-the-band, so a single
  * hot key (scraper/bot traffic) explodes regardless of partitioning.
  * The per-user event cap (`Joins.EventsPerUserCap`) bounds each user's
  * contribution at cap² pairs — these tests plant a 500-event bot among
  * normal users and check the bound binds, deterministically. */
class SkewSpec extends SparkSpec {

  /** Synthetic events dir: ts written as LONG nanos, the on-disk
    * convention `events()` expects. Bot user 1 fires every second for
    * 500 s (all pairs inside the 10-min band ⇒ 124 750 uncapped pairs);
    * users 2–10 have 5 events each, a minute apart. */
  private lazy val skewDir: String = {
    import spark.implicits._
    val dir = tmpDir("graft_skew")
    val bot = (1 to 500).map(i => (1L, 10000L + i, (86400L + i) * 1000000000L))
    val normal = for { u <- 2 to 10; i <- 1 to 5 }
      yield (u.toLong, u * 1000L + i, (86400L + i * 60L) * 1000000000L)
    (bot ++ normal).toDF("user_id", "event_id", "ts")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("q15 cap bounds the bot user's pair fan-out at cap(cap-1)/2") {
    val cap = 50
    val rows = Joins.q15WithCap(cap)(spark, skewDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // first 50 bot events are 1 s apart: every ordered pair is in-band
    assert(rows(1L) == cap.toLong * (cap - 1) / 2,
      s"bot user: ${rows(1L)} pairs, expected ${cap * (cap - 1) / 2}")
    assert(rows.values.forall(_ <= cap.toLong * (cap - 1) / 2),
      s"a user exceeded the cap-implied bound: $rows")
  }

  test("q15 uncapped fixture really is explosive (guard is load-bearing)") {
    val rows = Joins.q15WithCap(10000)(spark, skewDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows(1L) == 500L * 499 / 2, s"bot user: ${rows(1L)} uncapped pairs")
  }

  test("q15 default cap leaves the oracled fixture untouched") {
    // the default (10k) must sit above every test-fixture per-user max,
    // or the CORRECTNESS hashes would shift under the guard
    val sf = "/root/testdata/sf0.001"
    val maxPerUser = events(spark, sf).groupBy("user_id").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxPerUser < Joins.EventsPerUserCap,
      s"fixture max events/user $maxPerUser >= cap ${Joins.EventsPerUserCap}")
  }
}
