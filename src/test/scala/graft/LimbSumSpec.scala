package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cep.{Alignment, CepQuery, Metrics}
import graft.model._
import graft.streaming.StatefulCep

/** The CEP plans' exact window SUM (`graft.functions.limb_sum`, a
  * long-limb aggregate) against its definition,
  * `sum(cast(v AS decimal(38,6)))`, group for group: directly, through
  * both CEP planners, and through the stateful engine's `dec6`. */
class LimbSumSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val twoTo53 = 9007199254740992L
  /** 2^63 / 10^6: the largest n whose n × 10^6 fits a long. */
  private val longUnits = Long.MaxValue / 1000000L

  /** Seeded groups (g STRING, v DOUBLE): integral values around 2^53
    * and 2^63/10^6, fractional values with 7 to 9 decimals, HALF_UP ties
    * (…5 in the 7th decimal), negatives, −0.0 and nulls, one all-null
    * group, and group "carry" of 10^5 rows whose unscaled values'
    * 64-bit sum passes 2^63 and whose 32-bit limbs carry on most rows. */
  private lazy val data: DataFrame = {
    val rnd = new scala.util.Random(20261020L)
    def pick(k: Int): Option[Double] = k match {
      case 0 => Some((twoTo53 + rnd.nextInt(64) - 32).toDouble)
      case 1 => Some(-(twoTo53 - rnd.nextInt(64)).toDouble)
      case 2 => Some((longUnits + rnd.nextInt(2000) - 1000).toDouble)
      case 3 => Some(-(longUnits / 2 + rnd.nextInt(2000) - 1000).toDouble)
      case 4 => Some(BigDecimal(rnd.nextLong() % 1000000000000L, 9).toDouble)
      case 5 => // a tie: ...5 in the 7th decimal
        Some((BigDecimal(rnd.nextLong() % 100000000L, 6) +
          BigDecimal("0.0000005") * (if (rnd.nextBoolean()) 1 else -1)).toDouble)
      case 6 => Some(Seq(0.0000005, -0.0000005, 0.0000025, -0.0000025, 1.0000005,
        2.5e-7, -0.0, 0.0)(rnd.nextInt(8)))
      case 7 => Some(rnd.nextGaussian() * math.pow(10, rnd.nextInt(14)))
      case _ => None
    }
    val small = (for {
      g <- 0 until 40
      _ <- 0 until 60
    } yield (s"g$g", pick(if (g % 10 == 9) rnd.nextInt(10) else g % 10))) :+ (("nulls", None))
    val carry = spark.range(100000).select(lit("carry").as("g"),
      when(col("id") % 3 === 0, lit(4294.967295)) // u = 2^32 − 1
        .when(col("id") % 3 === 1, lit(9.2e12) + col("id"))
        .otherwise(lit(-4.4e12) - col("id") * 0.5).as("v"))
    small.toDF("g", "v").unionByName(carry)
  }

  /** g → the defining sum as a decimal (null for an all-null group). */
  private def oracle(df: DataFrame): Map[String, java.math.BigDecimal] =
    df.groupBy("g").agg(sum(col("v").cast(CepQuery.SumDecimal)).as("s"))
      .as[(String, java.math.BigDecimal)].collect().toMap

  private def asDoubles(m: Map[String, java.math.BigDecimal]): Map[String, Any] =
    m.map { case (g, s) => g -> Option(s).map(_.doubleValue) }

  test("limb_sum == sum(cast(v AS decimal(38,6))) group for group (ties, ±2^53, 2^63/10^6, −0.0, nulls, 10^5-row carries)") {
    val expected = oracle(data)
    assert(expected.size == 42 && expected("nulls") == null)
    assert(expected("carry").unscaledValue.bitLength > 63, "the carry group must pass 2^63")
    // Generated code, and the interpreted projections Spark falls back
    // to when code generation fails.
    for (parts <- Seq(1, 7); codegen <- Seq(true, false)) {
      val confs = Seq("spark.sql.codegen.wholeStage" -> codegen.toString,
        "spark.sql.codegen.factoryMode" -> (if (codegen) "FALLBACK" else "NO_CODEGEN"))
      val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val got = try data.repartition(parts)
        .groupBy("g").agg(graft.functions.limb_sum(col("v")).as("s"))
        .as[(String, java.math.BigDecimal)].collect().toMap
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      assert(got.keySet == expected.keySet)
      for ((g, s) <- expected)
        assert(Option(got(g)).map(_.compareTo(s)) == Option(s).map(_ => 0),
          s"$parts partitions, codegen $codegen, group $g: limb_sum ${got(g)} != $s")
    }
  }

  test("limb_sum's exactness reaches planAll (both alignments), planRule and StatefulCep.dec6") {
    // One tumbling hour holds every row; the rule keeps every window.
    val base = 1650556800000L // an hour boundary
    val metrics = data.filter(col("v").isNotNull)
      .withColumn("ms", lit(base) + pmod(hash(col("g"), col("v")), lit(3600000)))
      .select(timestamp_millis(col("ms")).as("eventTime"),
        map(lit("t_group"), col("g")).as("tags"),
        map(lit("cpu_usage"), col("v")).as("metrics"))
    val rule = Rule(1, RuleState.Active, WindowType.Tumbling, 60, 0,
      Seq("t_group"), AggType.Sum, "cpu_usage", CmpOp.Gt, BigDecimal(-1e20))
    val expected = asDoubles(oracle(data)).collect { case (g, Some(d)) => g -> d }
    def check(what: String, got: Map[String, Double]): Unit = {
      assert(got.keySet == expected.keySet, what)
      for ((g, d) <- expected) assert(got(g) == d, s"$what, group $g: ${got(g)} != $d")
    }
    val rules = Metrics.rulesToDF(spark, Seq(rule))
    for (align <- Seq(Alignment.Epoch, Alignment.FirstEvent)) {
      val out = CepQuery.planAll(metrics, rules, align)
      assert(out.count() == expected.size, s"planAll($align): one window per group")
      check(s"planAll($align)", out.select("group_id", "result").as[(String, Double)]
        .collect().map { case (gid, r) => gid.stripPrefix("1_") -> r }.toMap)
    }
    check("planRule", CepQuery.planRule(metrics, rule)
      .select("t_group", "result").as[(String, Double)].collect().toMap)
    val values = data.filter(col("v").isNotNull).as[(String, Double)].collect()
    check("StatefulCep.dec6", values.groupBy(_._1).map { case (g, vs) =>
      g -> vs.map(x => StatefulCep.dec6(x._2)).reduce(_ + _).toDouble })
  }

  test("limb_sum fails where the cast-then-sum fails: a value outside decimal(38,6), a sum reaching 10^38") {
    /** (error condition, SQLSTATE) of the first SparkThrowable, if any. */
    def failure(df: DataFrame): Option[(String, String)] =
      try { df.collect(); None } catch {
        case e: Throwable =>
          Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .collectFirst { case t: SparkThrowable => (t.getCondition, t.getSqlState) }
            .orElse(Some((e.getClass.getName, null)))
      }
    def both(vs: Seq[Double]) = {
      val df = vs.toDF("v").coalesce(1)
      (failure(df.agg(sum(col("v").cast(CepQuery.SumDecimal)))),
        failure(df.agg(graft.functions.limb_sum(col("v")))))
    }
    // NaN, an infinity and 1e33 fail the cast; 6e31 + 6e31 = 1.2e38 the sum.
    for (vs <- Seq(Seq(1e33), Seq(6e31, 6e31), Seq(Double.NaN), Seq(Double.NegativeInfinity))) {
      val (viaCast, viaLimbs) = both(vs)
      assert(viaLimbs == viaCast, s"$vs")
    }
    // Past ±2^127 the limbs fail with the decimal sum's own overflow
    // error, where the decimal buffer reports the out-of-range value.
    val (viaCast, viaLimbs) = both(Seq(9e31, 9e31))
    assert(viaCast.map(_._2) == Some("22003"))
    assert(viaLimbs == Some(("ARITHMETIC_OVERFLOW", "22003")))
    // A sum just below 10^38 is kept, and so is one whose running sum
    // passed 10^38 and came back (the decimal buffer holds 16 bytes).
    for (vs <- Seq(Seq(4.9e31, 4.9e31, 1e30), Seq(6e31, 6e31, -6e31))) {
      val df = vs.toDF("v").coalesce(1)
      def one(c: org.apache.spark.sql.Column) = df.agg(c).as[java.math.BigDecimal].head()
      assert(one(graft.functions.limb_sum(col("v")))
        .compareTo(one(sum(col("v").cast(CepQuery.SumDecimal)))) == 0, s"$vs")
    }
  }
}
