package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Rounds

/** [[Rounds.iterate]] on its own: stop markers, zero rounds, cadence. */
class RoundsSpec extends SparkSpec {
  import spark.implicits._

  private def init: DataFrame = (0L until 10L).map(k => (k, 0L)).toDF("k", "v")
  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.as[(Long, Long)].collect().toSeq.sorted

  test("NoneChanged stops after the first unchanged round, same result as fixed rounds") {
    // v climbs by one per round and saturates at 3: rounds 1-3 change
    // every row, round 4 changes none — the loop must stop there
    var calls = 0
    def step(s: DataFrame): DataFrame = {
      calls += 1
      s.select(col("k"), col("v").as("prev"), least(col("v") + 1, lit(3L)).as("v"))
    }
    val stopped = Rounds.iterate(init, 10,
      until = Some(Rounds.NoneChanged(col("v") =!= col("prev"))))(step)
    assert(calls == 4, s"step ran $calls times")
    // the marker's read-only columns never reach the state
    assert(stopped.columns.toSeq == Seq("k", "v"))
    calls = 0
    val fixed = Rounds.iterate(init, 10)(s => step(s).select(col("k"), col("v")))
    assert(calls == 10)
    assert(rows(stopped) == rows(fixed))
    assert(rows(fixed) == (0L until 10L).map(k => (k, 3L)))
  }

  test("NoneDropped stops after the first round that keeps every row") {
    // rounds 1-3 each drop the smallest k, round 4 drops nothing
    var calls = 0
    def step(s: DataFrame): DataFrame = {
      calls += 1
      s.filter(col("k") >= math.min(calls, 3))
    }
    val stopped = Rounds.iterate(init, 10, until = Some(Rounds.NoneDropped))(step)
    assert(calls == 4, s"step ran $calls times")
    calls = 0
    val fixed = Rounds.iterate(init, 10)(step)
    assert(calls == 10)
    assert(rows(stopped) == rows(fixed))
    assert(rows(fixed).map(_._1) == (3L until 10L))
    // a first round that drops nothing stops at once: the initial frame
    // is counted before round 1
    calls = 0
    Rounds.iterate(init, 10, until = Some(Rounds.NoneDropped))(s => { calls += 1; s })
    assert(calls == 1)
  }

  test("maxRounds = 0 returns the initial state, with or without a marker") {
    var calls = 0
    val step = (s: DataFrame) => { calls += 1; s.withColumn("v", col("v") + 1) }
    val want = rows(init)
    assert(rows(Rounds.iterate(init, 0)(step)) == want)
    assert(rows(Rounds.iterate(init, 0, until = Some(Rounds.NoneDropped))(step)) == want)
    assert(rows(Rounds.iterate(init, 0,
      until = Some(Rounds.NoneChanged(lit(true))))(step)) == want)
    assert(calls == 0)
    intercept[IllegalArgumentException](Rounds.iterate(init, -1)(step))
    intercept[IllegalArgumentException](Rounds.iterate(init, 1, every = 0)(step))
  }

  test("checkpoint cadence k > 1 gives the k = 1 result") {
    val step = (s: DataFrame) => s.select(col("k"), (col("v") * 2 + col("k")).as("v"))
    val want = rows(Rounds.iterate(init, 5)(step))
    for (k <- Seq(2, 3, 5, 10))
      assert(rows(Rounds.iterate(init, 5, every = k)(step)) == want, s"every = $k")
    // 5 rounds of v := 2v + k from 0 is 31k
    assert(want == (0L until 10L).map(k => (k, 31L * k)))
  }
}
