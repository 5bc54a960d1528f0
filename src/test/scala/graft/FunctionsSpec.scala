package graft

import graft.functions.GraftFunctions
import graft.ops.Similarity
import org.apache.spark.sql.functions._

/** Specs for the native codegen'd vector expression. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
    (2L, Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(2.0f, 2.0f, 2.0f), Array(2.0f, 2.0f, 2.0f))
  ).toDF("id", "a", "b")

  test("graft_cosine matches the declarative formulation bit-for-bit") {
    GraftFunctions.register(spark)
    val out = vecs.select(
      col("id"),
      call_function("graft_cosine", col("a"), col("b")).as("fast"),
      Similarity.cosine(col("a"), col("b")).as("slow"))
      .as[(Long, Double, Double)].collect()
    out.foreach { case (_, fast, slow) => assert(fast == slow) }
    assert(out.find(_._1 == 2L).get._2 == 0.0)
    assert(math.abs(out.find(_._1 == 3L).get._2 - 1.0) < 1e-12)
  }

  test("graft_cosine is null-safe and usable from SQL") {
    GraftFunctions.register(spark)
    vecs.createOrReplaceTempView("fs_vecs")
    val viaSql = spark.sql(
      "SELECT id, graft_cosine(a, b) AS c FROM fs_vecs ORDER BY id")
      .as[(Long, Double)].collect()
    assert(viaSql.length == 3)
    val withNull = Seq((1L, Array(1.0f), Option.empty[Array[Float]]))
      .toDF("id", "a", "b")
      .select(call_function("graft_cosine", col("a"), col("b")))
      .collect()
    assert(withNull(0).isNullAt(0))
  }

  test("interpreted eval (no codegen) agrees with codegen") {
    GraftFunctions.register(spark)
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val out = vecs.select(call_function("graft_cosine", col("a"), col("b")))
        .as[Double].collect()
      assert(out.exists(v => v > 0.97 && v < 0.98)) // (1,2,3)·(4,5,6)
    }
  }

  test("graft_lsh_buckets rejects vectors whose dims would overlap plane bits") {
    // the plane-component packing gives dims 20 bits; an oversized
    // vector must error rather than silently correlate hyperplanes
    GraftFunctions.register(spark)
    val big = Seq(Tuple1(Array.fill(1 << 20)(0.5f))).toDF("v")
    val e = intercept[Exception] {
      big.select(call_function("graft_lsh_buckets", col("v"), lit(2), lit(4))).collect()
    }
    assert(e.getMessage.contains("dimensions") ||
      Option(e.getCause).exists(_.getMessage.contains("dimensions")))
  }

  test("graft_dot_q / graft_dist2_q match the interpreted integer forms bit-for-bit") {
    GraftFunctions.register(spark)
    // negatives, zeros, large magnitudes (quantScale-sized): in-range
    // Long arithmetic must match the zip_with/aggregate form exactly.
    // (Out-of-range inputs differ BY CONTRACT: under default ANSI mode
    // the interpreted form throws on long overflow while the kernel
    // wraps — call sites bound |q| via the quantScale range analysis,
    // so products never overflow there.)
    val rows = Seq(
      (1L, Array(3L, -4L, 5L, 0L), Array(-7L, 2L, 9L, 1L)),
      (2L, Array(1000L, -999L, 123456L), Array(-1000L, 999L, -123456L)),
      (3L, Array(1000000L, -1000000L), Array(999999L, 999999L)),
      (4L, Array(0L, 0L), Array(0L, 0L))
    ).toDF("id", "a", "b")
    val out = rows.select(
      col("id"),
      call_function("graft_dot_q", col("a"), col("b")).as("fd"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS BIGINT), " +
        "(acc, v) -> acc + v)").as("sd"),
      call_function("graft_dist2_q", col("a"), col("b")).as("f2"),
      expr("aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), " +
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("s2"))
      .as[(Long, Long, Long, Long, Long)].collect()
    out.foreach { case (id, fd, sd, f2, s2) =>
      assert(fd == sd, s"dot mismatch at id=$id")
      assert(f2 == s2, s"dist2 mismatch at id=$id")
    }
    // null input propagates (matches the declarative form's null)
    val withNull = Seq((1L, Array(1L, 2L), Option.empty[Array[Long]]))
      .toDF("id", "a", "b")
      .select(call_function("graft_dot_q", col("a"), col("b")))
      .collect()
    assert(withNull(0).isNullAt(0))
  }

  test("graft_dot_q / graft_dist2_q usage gives the non-null element rule and a recipe that works") {
    GraftFunctions.register(spark)
    // arrays with nullable elements, as a parquet read yields them
    val rows = Seq((Seq(Some(1L), None, Some(3L)), Seq(Some(2L), Some(5L), None)))
      .toDF("a", "b")
    for (fn <- Seq("graft_dot_q", "graft_dist2_q")) {
      val usage = spark.sql(s"DESCRIBE FUNCTION $fn").collect().map(_.getString(0)).mkString("\n")
      assert(usage.contains("must be non-null") && usage.contains("coalesce(x, 0L)"), usage)
      intercept[org.apache.spark.sql.AnalysisException](rows.selectExpr(s"$fn(a, b)").collect())
      val fixed = rows.selectExpr(
        s"$fn(transform(a, x -> coalesce(x, 0L)), transform(b, x -> coalesce(x, 0L)))")
      assert(fixed.head().getLong(0) == (if (fn == "graft_dot_q") 2L else 1L + 25L + 9L))
    }
  }

  test("graft_dot_q / graft_dist2_q: interpreted eval agrees with codegen") {
    GraftFunctions.register(spark)
    val rows = Seq((1L, Array(2L, -3L, 7L), Array(5L, 11L, -13L))).toDF("id", "a", "b")
    def read() = rows.select(
      call_function("graft_dot_q", col("a"), col("b")),
      call_function("graft_dist2_q", col("a"), col("b")))
      .as[(Long, Long)].collect()(0)
    val gen = read()
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(read() == gen)
    }
    assert(gen == ((2L * 5 - 3 * 11 - 7 * 13), (9L + 196L + 400L)))
  }

  private def withSQLConf(pairs: (String, String)*)(f: => Unit): Unit = {
    val conf = spark.conf
    val olds = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
