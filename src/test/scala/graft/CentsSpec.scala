package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import scala.util.Try

/** Differential spec for the core queries' integer cents:
  * [[SparkEntry.halfUpLong]] must equal Spark's `round(v, 0).cast("long")`
  * and [[SparkEntry.cents]] must equal `round(x*100, 0).cast("long")`,
  * row by row, through both the interpreted path (a local relation is
  * evaluated by the optimizer) and whole-stage codegen (an RDD scan).
  */
class CentsSpec extends SparkTestBase {
  import spark.implicits._

  private val TwoPow52 = 4503599627370496.0

  private def old(v: Column): Column = round(v, 0).cast("long")

  private def sample[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    Gen.listOfN(n, g).pureApply(Gen.Parameters.default, Seed(seed))

  private def withNeighbours(xs: Seq[Double]): Seq[Double] =
    xs.flatMap(t => Seq(t, Math.nextUp(t), Math.nextDown(t))).flatMap(t => Seq(t, -t))

  /** One row per input, as a local relation and as an RDD scan. */
  private def frames(xs: Seq[Option[Double]]): Seq[(String, DataFrame)] = Seq(
    "interpreted" -> xs.toDF("x"),
    "codegen" -> spark.sparkContext.parallelize(xs, 2).toDF("x"))

  private def assertSame(xs: Seq[Option[Double]], fresh: Column => Column,
      reference: Column => Column): Unit =
    frames(xs).foreach { case (path, df) =>
      val q = df.select(col("x"), fresh(col("x")).as("n"), reference(col("x")).as("o"))
      // each path is the one its name says
      if (path == "interpreted") assert(q.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      else assert(q.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]))
      val rows = q.collect()
      assert(rows.length == xs.size)
      val bad = rows.filter(r => r.get(1) != r.get(2))
      assert(bad.isEmpty, s"$path: ${bad.length} rows differ, first: " +
        bad.take(5).map(r => s"x=${r.get(0)} new=${r.get(1)} old=${r.get(2)}").mkString("; "))
    }

  /** Outcome of evaluating `e` over the single row `x`: the value, or the
    * error condition (or exception class) of the root cause. */
  private def outcome(df: DataFrame, e: Column): Either[String, Any] =
    Try(df.select(e).collect().head.get(0)).toEither.left.map { t =>
      val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
      chain.collectFirst { case s: SparkThrowable if s.getCondition != null => s.getCondition }
        .getOrElse(chain.last.getClass.getName)
    }

  private def withAnsi[T](enabled: Boolean)(body: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, enabled.toString)
    try body
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("halfUpLong equals round(v, 0).cast(long) on ties, their neighbours and the path edges") {
    val ks = Seq(0.0, 1.0, 2.0, 7.0, 99.0, 12345.0, 1e6, 123456789.0, 1e12, 1e15,
      TwoPow52 / 4 - 1, TwoPow52 / 2 - 1, TwoPow52 / 2, TwoPow52 - 1)
    val randomKs = sample(Gen.choose(0L, (1L << 52) - 1), 2000, 7L).map(_.toDouble)
    val ties = withNeighbours((ks ++ randomKs).map(_ + 0.5))
    val edges = withNeighbours(Seq(0.49999999999999994, 0.0, TwoPow52 - 0.5, TwoPow52,
      9007199254740994.0, 1e17))
    // the tie inputs really are ties: the fractional test is what is exercised
    assert((ks ++ randomKs).forall(k => (k + 0.5) - k == 0.5))
    assertSame((ties ++ edges).map(Some(_)) :+ None, SparkEntry.halfUpLong, old)
  }

  test("halfUpLong equals round(v, 0).cast(long) over magnitudes 1e-3 to 1e15") {
    val g = for {
      e <- Gen.choose(-3.0, 15.0)
      sign <- Gen.oneOf(1.0, -1.0)
    } yield sign * math.pow(10, e)
    assertSame(sample(g, 20000, 11L).map(Some(_)), SparkEntry.halfUpLong, old)
  }

  test("cents equals round(x*100, 0).cast(long) on 2-decimal prices in the p * (1 - d) shape") {
    val g = for {
      pc <- Gen.choose(90000L, 10500000L) // l_extendedprice range, in cents
      dc <- Gen.choose(0L, 10L) // l_discount 0.00-0.10
    } yield (pc / 100.0) * (1 - dc / 100.0)
    val prices = sample(g, 20000, 13L) ++ sample(Gen.choose(1L, 10000000L).map(_ / 100.0), 20000, 17L)
    assertSame(prices.map(Some(_)) :+ None, SparkEntry.cents, x => old(x * 100))
  }

  test("NaN, infinities and overflow fail or pass exactly as round(...).cast(long) does, ANSI on and off") {
    val special = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 1e17, -1e17, 1e19)
    Seq(true, false).foreach { ansi =>
      withAnsi(ansi) {
        for {
          x <- special
          (path, df) <- frames(Seq(Some(x)))
          (name, fresh, reference) <- Seq(
            ("halfUpLong", SparkEntry.halfUpLong _, old _),
            ("cents", SparkEntry.cents _, (c: Column) => old(c * 100)))
        } {
          val got = outcome(df, fresh(col("x")))
          val want = outcome(df, reference(col("x")))
          if (ansi && x.isNaN) assert(want.isLeft, s"$name(NaN) did not fail under ANSI: $want")
          assert(got == want, s"$name($x), ansi=$ansi, $path: new $got, old $want")
        }
      }
    }
  }
}
