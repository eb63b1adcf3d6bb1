package graft.functions

import graft.SparkSpec
import graft.operators.Olap
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** `Olap.exactSum` / `Olap.dsum` / `Olap.units` against the spelling they
  * replace, `sum(cast(e AS DECIMAL(25,s)))`: the same decimal (value, scale
  * and type), the same double, the same nulls and the same errors. */
class ExactSumSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  import spark.implicits._

  private def sample[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(7L + i)))

  private def oldSum(e: Column, s: Int): Column = sum(e.cast(s"decimal(25,$s)"))

  /** Per group `g`: the new and old sums as decimals and doubles, plus the
    * per-row units against the old cents-style quantization. */
  private def assertSame(df: DataFrame, s: Int, what: String): Unit = {
    val v = col("v")
    val sums = df.groupBy(col("g")).agg(
      Olap.exactSum(v, s).as("new"), oldSum(v, s).as("old"),
      Olap.dsum(v, s).as("new_d"), oldSum(v, s).cast("double").as("old_d"))
    assert(sums.schema("new").dataType === sums.schema("old").dataType)
    val bad = sums.collect().filterNot { r =>
      r.get(1) == r.get(2) && (r.isNullAt(3) && r.isNullAt(4) ||
        !r.isNullAt(3) && !r.isNullAt(4) &&
          java.lang.Double.doubleToRawLongBits(r.getDouble(3)) ==
            java.lang.Double.doubleToRawLongBits(r.getDouble(4)))
    }
    assert(bad.isEmpty, s"$what scale $s: ${bad.take(5).mkString("; ")}")
    // the old quantization casts to BIGINT, so compare where units fit one
    val units = df.filter(abs(v.cast("double")) * math.pow(10, s) < 9e18)
      .select(v, Olap.units(v, s).as("new"),
      (v.cast(s"decimal(25,$s)") * math.pow(10, s).toLong).cast("long").as("old"))
      .filter(not(col("new") <=> col("old"))).collect()
    assert(units.isEmpty, s"$what scale $s units: ${units.take(5).mkString("; ")}")
  }

  private def nudged(d: Double): Seq[Double] = {
    val ups = Iterator.iterate(d)(math.nextUp).slice(1, 4).toSeq
    val downs = Iterator.iterate(d)(math.nextDown).slice(1, 4).toSeq
    d +: (ups ++ downs)
  }

  /** Near-ties k ± ½·10^-s, the 2^43-unit boundary, signs, −0.0 and
    * subnormals — the rows either side of the fast path's guards. */
  private def adversarial(s: Int): Seq[Double] = {
    val p = math.pow(10, s)
    val ks = Seq(0L, 1L, 2L, 7L, 12345L, 99999999L, 1L << 30, (1L << 43) - 1)
    val ties = ks.flatMap(k => Seq((k + 0.5) / p, (k - 0.5) / p)).flatMap(nudged)
    val edge = Seq(math.pow(2, 43), math.pow(2, 43) - 0.5, math.pow(2, 43) + 0.5,
      math.pow(2, 43) - 1, math.pow(2, 42) + 0.5).map(_ / p).flatMap(nudged)
    val misc = Seq(0.0, -0.0, 0.125, 2.675, 1.005, 0.145, 1e-7, 5e-7,
      Double.MinPositiveValue, 1e-310, -4.9e-320, 1e15, 123456789.987654321)
    val all = ties ++ edge ++ misc
    all ++ all.map(-_)
  }

  private def randomDoubles: Seq[Double] = sample(Gen.oneOf(
    Gen.chooseNum(-1000.0, 1000.0),
    Gen.chooseNum(-1e12, 1e12),
    Gen.chooseNum(-1L << 40, 1L << 40).map(_ / 100.0),
    Gen.chooseNum(Long.MinValue, Long.MaxValue).map(java.lang.Double.longBitsToDouble)
      .filter(d => !d.isNaN && !d.isInfinite && math.abs(d) < 1e18)), 3000)

  test("every row and group sum equals the DECIMAL(25,s) spelling: random and adversarial doubles") {
    for (s <- Seq(0, 2, 6)) {
      val vals = adversarial(s) ++ randomDoubles
      // one group per adversarial value, then random groups of a few rows
      val df = vals.zipWithIndex.map { case (v, i) => (i % 997, v) }.toDF("g", "v")
      assertSame(df, s, "double")
      assertSame(df.withColumn("v", col("v").cast("float")), s, "float")
      assertSame(df.filter(abs(col("v")) < 1e9)
        .withColumn("v", col("v").cast("decimal(18,8)")), s, "decimal")
    }
  }

  test("longs above 2^53 at scale 0 are exact, and so is a total beyond Long.MaxValue") {
    val big = Seq(Long.MaxValue, Long.MaxValue - 1, Long.MinValue, (1L << 53) + 1,
      (1L << 53) + 3, -(1L << 60) - 7, (1L << 43) - 1, 1L << 43, (1L << 43) + 1)
    val df = big.map(v => (0, v)).toDF("g", "v")
    assertSame(df, 0, "long")
    assertSame(df.filter(col("v") =!= Long.MinValue && col("v") =!= (Long.MaxValue - 1)),
      0, "long (positive overflow)")
    assertSame(big.map(v => (0, v / 1000000)).toDF("g", "v"), 6, "long at scale 6")
  }

  test("a group whose fast-path unit total exceeds Long.MaxValue stays exact") {
    // 1.2M rows of 8e12 units: each row stays on the fast path (< 2^43),
    // the total 9.6e18 does not fit a long
    val df = spark.range(1200000L).select((col("id") % 3).as("g"),
      (lit(8.0e12) + (col("id") % 4).cast("double") * 0.25).as("v"))
    val Row(total: java.math.BigDecimal) = df.agg(Olap.exactSum(col("v"), 0)).head()
    assert(total.compareTo(new java.math.BigDecimal(Long.MaxValue)) > 0)
    assertSame(df, 0, "beyond Long.MaxValue")
  }

  test("all-null and empty groups return null, like sum") {
    val nulls = Seq[(Int, Option[Double])]((0, None), (0, None), (1, Some(1.5)), (1, None))
      .toDF("g", "v")
    assertSame(nulls, 2, "nulls")
    val r = nulls.filter(lit(false)).agg(Olap.exactSum(col("v"), 2), Olap.dsum(col("v"), 2)).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("NaN and ±Inf give the old spelling's result or error class, with ANSI on and off") {
    def outcome(c: Column, v: Double): Either[String, Seq[Row]] =
      try Right(Seq((0, 1.0), (0, v)).toDF("g", "v").groupBy(col("g")).agg(c).collect().toSeq)
      catch { case e: Exception =>
        Left(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case t: SparkThrowable if t.getCondition != null => t.getCondition }
          .getOrElse(e.toString))
      }
    val key = "spark.sql.ansi.enabled"
    val ansi = spark.conf.get(key)
    try {
      for (mode <- Seq("true", "false"); v <- Seq(Double.NaN, Double.PositiveInfinity,
          Double.NegativeInfinity)) {
        spark.conf.set(key, mode)
        assert(outcome(Olap.exactSum(col("v"), 2), v) === outcome(oldSum(col("v"), 2), v),
          s"ansi=$mode $v")
        assert(outcome(Olap.dsum(col("v"), 2), v) ===
          outcome(oldSum(col("v"), 2).cast("double"), v), s"ansi=$mode $v")
      }
      assertSame(Seq((0, Double.NaN), (0, 2.5), (1, Double.PositiveInfinity),
        (2, Double.NegativeInfinity), (2, 1e30)).toDF("g", "v"), 2, "non-ANSI")
    } finally spark.conf.set(key, ansi)
  }

  test("identical at 1, 7 and 64 partitions, grouped and as a window") {
    val df = randomDoubles.zipWithIndex.map { case (v, i) => (i % 13, i.toLong, v) }
      .toDF("g", "i", "v")
    def grouped(n: Int) = df.repartition(n).groupBy(col("g"))
      .agg(Olap.exactSum(col("v"), 6).as("s"), Olap.dsum(col("v"), 2).as("d"))
      .orderBy(col("g")).collect().toSeq
    val one = grouped(1)
    assert(grouped(7) === one && grouped(64) === one)
    assert(one.map(_.get(1)) === df.groupBy(col("g")).agg(oldSum(col("v"), 6))
      .orderBy(col("g")).collect().toSeq.map(_.get(1)))
    val w = Window.partitionBy(col("g")).orderBy(col("i")).rowsBetween(-2, Window.currentRow)
    def windowed(n: Int) = df.repartition(n).select(col("i"),
      Olap.exactSum(col("v"), 2).over(w).as("new"), oldSum(col("v"), 2).over(w).as("old"))
      .orderBy(col("i")).collect().toSeq
    val w1 = windowed(1)
    assert(w1.forall(r => r.get(1) == r.get(2)))
    assert(windowed(7) === w1 && windowed(64) === w1)
  }

  test("the kernel is whole-stage codegen'd with no CodegenFallback expression") {
    val df = Seq((0, 1.25)).toDF("g", "v").groupBy(col("g"))
      .agg(Olap.exactSum(col("v"), 2), Olap.dsum(col("v"), 6))
    df.collect()
    val plan = stripAQEPlan(df.queryExecution.executedPlan)
    val fallbacks = plan.collect { case p => p.expressions }.flatten
      .flatMap(_.collect { case f: CodegenFallback => f })
    assert(fallbacks.isEmpty, s"$fallbacks")
    val aggs = collect(plan) { case a: HashAggregateExec => a }
    val codegend = collect(plan) { case w: WholeStageCodegenExec => w }
      .flatMap(_.collect { case a: HashAggregateExec => a })
    assert(aggs.nonEmpty && codegend.size === aggs.size, plan.toString)
  }
}
