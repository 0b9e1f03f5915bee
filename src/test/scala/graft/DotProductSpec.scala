package graft

import org.apache.spark.sql.functions._

import graft.expressions.GraftFunctions
import graft.ops.SimilarityOps

object DotProductSpec {
  /** The composed form of [[graft.expressions.HyperplaneBands]]' key for
    * band `band`: the sign bits of `planesPerBand` exact int64 plane dots
    * (`graft_dotl` over the 1e-6-quantized vector `vq` and the integer
    * planes), offset by band·2^planesPerBand so keys from different bands
    * never collide. */
  def sparkBandKey(vq: String, band: Int, planesPerBand: Int): String = {
    val bits = (0 until planesPerBand).map { p =>
      val g = band * planesPerBand + p
      val wq = (0 until SimilarityOps.Dim)
        .map(d => s"${SimilarityOps.plane(g, d)}L").mkString("array(", ", ", ")")
      s"(CASE WHEN graft_dotl($vq, $wq) > 0L THEN ${1L << p}L ELSE 0L END)"
    }
    bits.mkString(s"(${band.toLong << planesPerBand}L + ", " + ", ")")
  }
}

class DotProductSpec extends SparkSpec {
  import spark.implicits._

  private def withFn[A](f: => A): A = { GraftFunctions.register(spark); f }

  test("graft_dot equals the HOF fold bit-for-bit") {
    withFn {
      val df = Seq((Seq(1.5, -2.25, 3.0), Seq(0.5, 4.0, -1.125)))
        .toDF("a", "b")
        .selectExpr(
          "graft_dot(a, b) AS native",
          "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, x) -> acc + x) AS hof")
      val r = df.collect().head
      assert(r.getDouble(0) === r.getDouble(1))
      assert(r.getDouble(0) === 1.5 * 0.5 + -2.25 * 4.0 + 3.0 * -1.125)
    }
  }

  test("null array propagates null; null elements contribute zero") {
    withFn {
      val df = Seq(
        (Some(Seq(Some(1.0), None, Some(2.0))), Some(Seq(Some(3.0), Some(4.0), Some(5.0)))),
        (None, Some(Seq(Some(1.0))))
      ).toDF("a", "b").selectExpr("graft_dot(a, b) AS d")
      val rows = df.collect()
      assert(rows(0).getDouble(0) === 1.0 * 3.0 + 2.0 * 5.0)
      assert(rows(1).isNullAt(0))
    }
  }

  test("float arrays implicit-cast to double arrays (analyzer rule)") {
    withFn {
      val df = Seq((Seq(1.5f, 2.5f), Seq(2.0f, 4.0f))).toDF("a", "b")
        .selectExpr("graft_dot(a, b) AS d")
      assert(df.collect().head.getDouble(0) === 1.5 * 2.0 + 2.5 * 4.0)
    }
  }

  test("two graft_dot calls in ONE projection stay correct (codegen scope regression)") {
    withFn {
      // fixed local identifiers would redeclare in the shared Janino scope
      // → silent interpreted fallback; freshName'd locals keep codegen live
      val r = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0), Seq(5.0, 6.0)))
        .toDF("a", "b", "c")
        .selectExpr("graft_dot(a, b) AS ab", "graft_dot(a, c) AS ac", "graft_dot(b, c) AS bc")
        .collect().head
      assert(r.getDouble(0) === 11.0)
      assert(r.getDouble(1) === 17.0)
      assert(r.getDouble(2) === 39.0)
    }
  }

  test("mismatched array lengths yield null (corruption surfaces, not truncates)") {
    withFn {
      val df = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
        .selectExpr("graft_dot(a, b) AS d")
      assert(df.collect().head.isNullAt(0))
    }
  }

  test("doGenCode output is present in the generated whole-stage source (no silent fallback)") {
    withFn {
      // spark.range produces a real WholeStageCodegen stage (a local
      // relation would plan as LocalTableScan with no codegen at all)
      val df = spark.range(1)
        .selectExpr("array(CAST(id AS DOUBLE) + 1.0, 2.0) AS a", "array(3.0, 4.0) AS b")
        .selectExpr("graft_dot(a, b) AS ab", "graft_dot(b, a) AS ba")
      // the freshName'd locals only appear if doGenCode's loop was
      // actually emitted into the whole-stage source (a regression to
      // fixed identifiers would Janino-fail and fall back silently)
      val code = org.apache.spark.sql.execution.debug
        .codegenString(df.queryExecution.executedPlan)
      assert(code.contains("dotAcc"), "generated source lacks the codegen'd loop")
      assert(df.collect().head.getDouble(0) === 11.0)
    }
  }

  test("graft_dotl equals the integer HOF fold; null/ragged contract matches") {
    withFn {
      val df = Seq((Seq(3L, -7L, 11L), Seq(2L, 5L, -4L)))
        .toDF("a", "b")
        .selectExpr(
          "graft_dotl(a, b) AS native",
          "aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, x) -> acc + x) AS hof")
      val r = df.collect().head
      assert(r.getLong(0) === r.getLong(1))
      assert(r.getLong(0) === 3L * 2 + -7L * 5 + 11L * -4)
      val ragged = Seq((Seq(1L, 2L), Seq(1L))).toDF("a", "b")
        .selectExpr("graft_dotl(a, b) AS d").collect().head
      assert(ragged.isNullAt(0))
      // int columns implicit-cast to ARRAY<BIGINT> like the double twin
      val cast = Seq((Seq(2, 3), Seq(4, 5))).toDF("a", "b")
        .selectExpr("graft_dotl(a, b) AS d").collect().head
      assert(cast.getLong(0) === 23L)
    }
  }

  test("graft_bands equals the composed CASE/dotl band keys on real vectors") {
    withFn {
      import DotProductSpec.sparkBandKey
      val (bands, planes) = (SimilarityOps.VBands, SimilarityOps.PlanesPerBand)
      val composed = (0 until bands)
        .map(b => sparkBandKey("vq", b, planes)).mkString(", ")
      val df = Tables.embeddings(spark, "/root/testdata/sf0.001")
        .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
        .selectExpr("vec_id", s"${SimilarityOps.QuantizeExpr} AS vq")
        .selectExpr("vec_id",
          s"graft_bands(vq, $bands, $planes) AS native",
          s"array($composed) AS spec")
      assert(df.count() > 0)
      assert(df.filter("native <> spec").count() === 0)
      // and a second geometry, so the band-index offset logic is exercised
      val df2 = Tables.embeddings(spark, "/root/testdata/sf0.001")
        .selectExpr("CAST(embedding AS ARRAY<DOUBLE>) AS v")
        .selectExpr(s"${SimilarityOps.QuantizeExpr} AS vq")
        .selectExpr("graft_bands(vq, 2, 3) AS native",
          s"array(${(0 until 2).map(b => sparkBandKey("vq", b, 3)).mkString(", ")}) AS spec")
      assert(df2.filter("native <> spec").count() === 0)
    }
  }

  test("graft_hamming equals the HOF fold; start offset, null, astral code points, codegen presence") {
    withFn {
      val df = Seq(("Customer#18", "Customer#81"), ("abc", "abc"))
        .toDF("a", "b")
        .selectExpr("graft_hamming(a, b, 1) AS h1", "graft_hamming(a, b, 10) AS h10",
          """aggregate(sequence(1, length(a)), 0,
             (acc, i) -> acc + IF(substring(a, i, 1) = substring(b, i, 1), 0, 1)) AS hof""")
      val rows = df.collect()
      assert(rows(0).getInt(0) === 2 && rows(0).getInt(0) === rows(0).getInt(2))
      assert(rows(0).getInt(1) === 2, "start offset must skip the agreeing prefix only")
      assert(rows(1).getInt(0) === 0 && rows(1).getInt(1) === 0)
      // positions are CODE POINTS (Spark substring semantics): an astral
      // char is ONE position, so these differ at exactly 1, not 2
      val astral = Seq(("a😀b", "a😁b")).toDF("a", "b")
        .selectExpr("graft_hamming(a, b, 1) AS h",
          """aggregate(sequence(1, length(a)), 0,
             (acc, i) -> acc + IF(substring(a, i, 1) = substring(b, i, 1), 0, 1)) AS hof""")
        .collect().head
      assert(astral.getInt(0) === 1 && astral.getInt(0) === astral.getInt(1))
      // unequal code-point lengths and null inputs yield null
      val edge = Seq(("ab", "abc")).toDF("a", "b")
        .selectExpr("graft_hamming(a, b, 1) AS r",
          "graft_hamming(CAST(NULL AS STRING), b, 1) AS n")
        .collect().head
      assert(edge.isNullAt(0) && edge.isNullAt(1))
      // codegen actually emits (no silent interpreted fallback) — via
      // spark.range, which plans a real WholeStageCodegen stage (a local
      // relation would plan as LocalTableScan with no codegen at all)
      val plan = spark.range(1)
        .selectExpr("concat('x', CAST(id AS STRING)) AS a", "'y0' AS b")
        .selectExpr("graft_hamming(a, b, 1) AS h")
      val gen = org.apache.spark.sql.execution.debug.codegenString(plan.queryExecution.executedPlan)
      assert(gen.contains("HammingFrom.compute"), "expected codegen'd hamming in the plan source")
      assert(plan.collect().head.getInt(0) === 1)
    }
  }

  test("GraftExtensions injects every native function via the standard hook") {
    // the spark.sql.extensions / withExtensions path a user configures —
    // getOrCreate only applies extensions when building a NEW session, so
    // clear the defaults and build one over the existing SparkContext
    val S = org.apache.spark.sql.SparkSession
    S.clearActiveSession()
    S.clearDefaultSession()
    try {
      val s2 = S.builder().master("local[2]")
        .withExtensions(new graft.expressions.GraftExtensions).getOrCreate()
      val r = s2.sql(
        """SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
                  graft_dotl(array(2L, 3L), array(4L, 5L)) AS l,
                  graft_shingles(array('a', 'b', 'c'), 2) AS g,
                  graft_simhash(array('tok'), 60) AS s,
                  graft_minhash(array('a b c'), 2) AS m,
                  graft_bands(array(1000000L, -2000000L), 2, 3) AS b""").collect()(0)
      assert(r.getDouble(0) === 11.0)
      assert(r.getLong(1) === 23L)
      assert(r.getSeq[String](2) === Seq("a b", "b c"))
      assert(r.getLong(3) !== 0L)
      assert(r.getSeq[String](4).length === 2)
      assert(r.getSeq[Long](5).length === 2)
    } finally {
      S.setDefaultSession(spark)
      S.setActiveSession(spark)
    }
  }

  test("expression survives both codegen and interpreted paths") {
    withFn {
      val df = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
      val on = df.selectExpr("graft_dot(a, b) AS d").collect().head.getDouble(0)
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val off =
        try df.selectExpr("graft_dot(a, b) AS d").collect().head.getDouble(0)
        finally {
          spark.conf.set("spark.sql.codegen.wholeStage", "true")
          spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
        }
      assert(on === off)
      assert(on === 11.0)
    }
  }
}
