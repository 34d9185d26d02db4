package graft.cpms

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based checks (SURVEY §5.3) driven by seeded ScalaCheck
  * generators (the scalatest<->scalacheck bridge artifact isn't in the
  * offline cache, so cases are sampled explicitly — deterministic seeds,
  * same coverage).
  */
class PropertiesSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  /** Events of one seed: (user, ts seconds, heart rate, batch, id key). */
  private val eventsGen: Gen[List[(String, Long, Int, Int, Int)]] = for {
    n <- Gen.choose(1, 25)
    evs <- Gen.listOfN(n, for {
      u <- Gen.oneOf("u1", "u2", "u3")
      t <- Gen.choose(1L, 50L)
      v <- Gen.choose(0, 1000)
      b <- Gen.choose(0, 2)
      k <- Gen.choose(0, 99)
    } yield (u, t, v, b, k))
  } yield evs

  test("property: served state == event with max (ts, arrival) per user, any permutation (T3)") {
    // arrival is (batch, event_id): the later batch wins an equal ts.
    // Every seed's users carry the seed as a prefix, so all 30 seeds share
    // the same 3 micro-batches through parseEvents -> latestPerUserInBatch
    // -> mergeAggregates
    val evs = (1 to 30).flatMap { seed =>
      sample(eventsGen, seed).zipWithIndex.map { case ((u, t, v, b, k), i) =>
        (s"s$seed-$u", t, v, b, f"e$k%02d-$i%02d")
      }
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-props").toString + "/agg"
    (0 to 2).foreach { batch =>
      val wire = evs.filter(_._4 == batch).map { case (u, t, v, _, id) =>
        s"""{"event_id":"$id","user_id":"$u","schema":"tracking_v1",""" +
          s""""heart_rate":$v,"timestamp":"$t"}"""
      }
      Streaming.mergeAggregates(spark,
        Streaming.latestPerUserInBatch(Streaming.parseEvents(wire.toDF("value"))), dir)
    }
    val got = spark.read.schema(Schemas.aggregates).parquet(dir).collect()
      .map(r => r.getAs[String]("user_id") ->
        (r.getAs[java.sql.Timestamp]("ts").toInstant.getEpochSecond, r.getAs[Int]("heart_rate")))
      .toMap
    val exp = evs.groupBy(_._1).map { case (u, g) =>
      val (_, t, v, _, _) = g.maxBy { case (_, t, _, b, id) => (t, b, id) }
      u -> (t, v)
    }
    assert(got === exp, s"events=$evs")
  }

  test("property: distributed top-k == in-memory sorted take (O1)") {
    val xsGen = Gen.nonEmptyListOf(Gen.choose(-1000, 1000))
    (1 to 30).foreach { seed =>
      val xs = sample(xsGen, 1000L + seed)
      val df = xs.zipWithIndex.toDF("v", "id").repartition(5)
      val got = df.orderBy(col("v").desc, col("id")).limit(5)
        .collect().map(r => (r.getInt(0), r.getInt(1))).toList
      val exp = xs.zipWithIndex.sortBy { case (v, i) => (-v, i) }.take(5)
      assert(got === exp, s"seed=$seed")
    }
  }

  test("property: merge precedence — request value always wins when present (J5)") {
    val caseGen = for {
      req <- Gen.option(Gen.choose(0, 100))
      agg <- Gen.choose(0, 100)
    } yield (req, agg)
    val cases = (1 to 60).map(s => sample(caseGen, 2000L + s))
    val df = cases.zipWithIndex
      .map { case ((req, agg), i) => (i, req, agg) }
      .toDF("i", "req", "agg")
      .select(col("i"), coalesce(col("req"), col("agg")).as("merged"))
    val got = df.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    cases.zipWithIndex.foreach { case ((req, agg), i) =>
      assert(got(i) === req.getOrElse(agg))
    }
  }
}
