package graft

import org.apache.spark.sql.functions.col

import graft.operators.Iterate

/** The loop policy every iterative operator shares: checkpoint cadence,
  * early exit, per-round job labels, and the caller's job description
  * surviving a failing round. */
class IterateSpec extends SparkSpec {

  test("a step that throws in round 2 rethrows, and the caller's job " +
    "description survives") {
    val sc = spark.sparkContext
    sc.setJobDescription("caller's own label")
    try {
      val err = intercept[IllegalStateException] {
        Iterate("boom", spark.range(3).toDF("x"), 5) { (df, round) =>
          if (round == 2) throw new IllegalStateException("round 2 failed")
          df.select((col("x") + 1).as("x"))
        }()
      }
      assert(err.getMessage === "round 2 failed")
      assert(sc.getLocalProperty("spark.job.description") ===
        "caller's own label")
    } finally sc.setJobDescription(null)
  }

  test("with 7 rounds and checkpointEvery = 3, checkpoint jobs run only " +
    "in rounds 3, 6 and 7, each labelled with its round") {
    val ((out, rounds, fired), jobs) = jobsOf {
      Iterate("every3", spark.range(4).toDF("x"), 7, checkpointEvery = 3) {
        (df, _) => df.select((col("x") + 1).as("x"))
      }()
    }
    assert(jobs === Seq("every3: round 3", "every3: round 6",
      "every3: round 7"))
    assert(rounds === 7 && !fired)
    assert(out.collect().map(_.getLong(0)).sorted.toSeq === Seq(7L, 8L, 9L, 10L))
  }

  test("until stops the loop at the first checkpointed round where it " +
    "holds, and no job runs beyond the checkpoints") {
    // round r keeps x > r: 9 - r rows after round r; until holds from
    // round 5 on, but is only evaluated on the checkpointed rounds 2, 4, 6
    val seen = Seq.newBuilder[(Int, Long, Long)]
    val ((out, rounds, fired), jobs) = jobsOf {
      Iterate("shrink", spark.range(10).toDF("x"), 8, checkpointEvery = 2) {
        (df, round) => df.filter(col("x") > round)
      } { r =>
        seen += ((r.round, r.prevCount, r.nextCount))
        r.nextCount <= 4
      }
    }
    assert(jobs === Seq("shrink: init", "shrink: round 2",
      "shrink: round 4", "shrink: round 6"))
    assert(seen.result() === Seq((2, 10L, 7L), (4, 7L, 5L), (6, 5L, 3L)))
    assert(rounds === 6 && fired)
    assert(out.collect().map(_.getLong(0)).sorted.toSeq === Seq(7L, 8L, 9L))
  }
}
