package graft.util

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Fixpoint's contract: the count it observes on each
  * round's materializing job is the round's true row count (in every
  * checkpoint mode, with AQE on and off), the round cap fails loudly
  * with the loop's own message, and superseded rounds are freed. */
class FixpointSpec extends SparkSpec {
  import CheckpointsSpec.rddDirs

  private def rddId(df: DataFrame): Int = df.queryExecution.analyzed match {
    case lr: LogicalRDD => lr.rdd.id
    case p => fail(s"round is not rooted: $p")
  }

  /** 1000 ids halved (distinct, so each round shuffles) until one id
    * is left: 12 rooted relations, the last two both of 1 row. */
  private def halving(onRound: (Fixpoint.Round, Fixpoint.Round) => Unit)
      : Fixpoint.Round =
    Fixpoint.iterate("spec-halving", spark.range(1000).toDF("id"),
      maxRounds = 20, "spec-halving ran past 20 rounds")(
      r => r.df.select((col("id") / 2).cast("long").as("id")).distinct()) {
      (prev, next) => onRound(prev, next); next.rows == prev.rows
    }

  private def withConf[T](kv: (String, Option[String])*)(f: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  for (reliable <- Seq(false, true); aqe <- Seq(true, false))
    test(s"observed round count = count() (reliable=$reliable, aqe=$aqe)") {
      val dir = Files.createTempDirectory("graft-fixpoint")
      withConf(
        Checkpoints.DirKey -> Option.when(reliable)(dir.toString),
        "spark.sql.adaptive.enabled" -> Some(aqe.toString)) {
        val seen = ArrayBuffer[(Int, Long, Long)]()
        val last = halving { (prev, next) =>
          if (prev.n == 0) seen += ((0, prev.rows, prev.df.count()))
          seen += ((next.n, next.rows, next.df.count()))
        }
        seen.foreach { case (n, observed, counted) =>
          assert(observed == counted, s"round $n observed $observed")
        }
        assert(seen.map(_._3) == Seq(1000L, 500L, 250L, 125L, 63L, 32L,
          16L, 8L, 4L, 2L, 1L, 1L))
        assert(last.n == 11 && last.rows == 1L && last.parts == 1)
        Checkpoints.free(last.df)
      }
    }

  test("an empty relation is observed as 0 rows, not waited on") {
    import spark.implicits._
    for (init <- Seq(spark.range(0).toDF("id"), Seq.empty[Long].toDF("id"),
                     spark.range(5).toDF("id").where(lit(false)))) {
      val last = Fixpoint.iterate("spec-empty", init, maxRounds = 3,
        "spec-empty ran past 3 rounds")(_.df)((p, n) => n.rows == p.rows)
      assert(last.n == 1 && last.rows == 0L && last.df.count() == 0L)
      Checkpoints.free(last.df)
    }
  }

  test("the cap throws at round cap + 1 with the loop's message") {
    var steps = 0
    val e = intercept[IllegalStateException] {
      Fixpoint.iterate("spec-cap", spark.range(3).toDF("id"),
        maxRounds = 4, "spec-cap: no fixpoint in 4 rounds")(
        r => { steps += 1; r.df.select((col("id") + 1).as("id")) })(
        (_, _) => false)
    }
    assert(e.getMessage == "spec-cap: no fixpoint in 4 rounds")
    assert(steps == 4, "rounds 1..4 run; round 5 is refused before it builds")
  }

  test("superseded rounds are freed: blocks in local mode") {
    withConf(Checkpoints.DirKey -> None) {
      val ids = ArrayBuffer[Int]()
      val last = halving((prev, _) => ids += rddId(prev.df))
      val live = spark.sparkContext.getPersistentRDDs.keySet
      assert(ids.size == 11 && ids.forall(id => !live.contains(id)),
        s"superseded rounds still persisted: ${ids.filter(live.contains)}")
      assert(live.contains(rddId(last.df)), "the last round must stay live")
      Checkpoints.free(last.df)
    }
  }

  test("superseded rounds are freed: files in reliable mode") {
    val dir = Files.createTempDirectory("graft-fixpoint-free")
    withConf(Checkpoints.DirKey -> Some(dir.toString)) {
      val last = halving((_, _) => ())
      assert(rddDirs(dir).size == 1,
        s"only the live round may keep files, found ${rddDirs(dir)}")
      Checkpoints.free(last.df)
      assert(rddDirs(dir).isEmpty)
    }
  }
}
