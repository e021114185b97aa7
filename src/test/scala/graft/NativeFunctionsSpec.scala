package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._
import graft.llm.{Similarity, TextAnalysis, TextHash}

/** Every native on degenerate inputs. A scalar sees NULL, empty strings
  * and arrays, non-ASCII text and, wherever an input is a double, NaN and
  * ±∞; a sketch aggregate sees zero rows, an all-NULL group and a group
  * split across partitions, under both aggregate operators.
  *
  * Each row runs twice over an RDD-backed frame (so the optimizer can
  * neither fold the call nor evaluate it in a local relation): once with
  * whole-stage codegen off and `spark.sql.codegen.factoryMode=NO_CODEGEN`,
  * which evaluates the expression interpreted, and once with
  * `CODEGEN_ONLY`, which compiles its generated code. Both must give the
  * same rows, and so must the declarative spec form where one exists.
  * One wrong-typed call per function, and each sketch aggregate misuse,
  * must fail analysis with "`<name> requires`".
  */
class NativeFunctionsSpec extends AnyFunSuite with SharedSpark {

  /** One native: input columns `a`, `b`, `c` (in `schema` order), its rows,
    * the call under test, the spec form (if any) and a call with one
    * wrong-typed input over the same frame.
    */
  private case class Case(
      name: String,
      schema: StructType,
      rows: Seq[Row],
      call: Seq[Column] => Column,
      wrong: Seq[Column] => Column,
      spec: Option[Seq[Column] => Column] = None)

  private def fields(types: (String, DataType)*): StructType =
    StructType(types.map { case (n, t) => StructField(n, t, nullable = true) })

  private val strings = fields("a" -> StringType)
  private val tokenArrays = fields("a" -> ArrayType(StringType))
  private val vectors = fields("a" -> ArrayType(DoubleType))
  private val texts = Seq(Row("Vienas,Du;TRYS keturi"), Row(null), Row(""),
    Row("Ąžuolas; Šilas,žolė"), Row("Žalgiris Ωμέγα Щука"), Row("中文 ascii"))
  private val tokens = Seq(Row(Seq("a", "b", "c", "a", "b", "c")), Row(null),
    Row(Seq.empty[String]), Row(Seq("ą", "č", "ę", "ą", "č")),
    Row(Seq("a", null, "b", "c")), Row(Seq(null)), Row(Seq("", "")))
  private val NaN = Double.NaN
  private val Inf = Double.PositiveInfinity
  private val doubles = Seq(Row(Seq(1.0, -2.0, 0.5)), Row(null), Row(Seq.empty[Double]),
    Row(Seq(0.0, 0.0)), Row(Seq(NaN, 1.0)), Row(Seq(Inf, 1.0)), Row(Seq(-Inf, -Inf)),
    Row(Seq(1.0, null)))
  private val weights = typedlit(Array(3L, -1L, 2L, 5L))
  private val salt = TextAnalysis.ModelSalt

  private def expr(c: Column): Expression = GraftBridge.expression(c)
  private def viaBuilder(builder: Seq[Expression] => Expression,
      args: Column*): Column = GraftBridge.column(builder(args.map(expr)))

  private val centroids = ArrayType(StructType(Seq(
    StructField("cid", IntegerType), StructField("centroid", ArrayType(DoubleType)),
    StructField("cnorm", DoubleType))))
  private val codebooks = ArrayType(StructType(Seq(
    StructField("code", IntegerType), StructField("cb", ArrayType(DoubleType)))))
  private val twoCents = Seq(Row(0, Seq(1.0, 0.0), 1.0), Row(1, Seq(0.0, 1.0), 1.0))
  private val twoBooks = Seq(Row(0, Seq(1.0, 0.0)), Row(1, Seq(0.0, 1.0)))

  private val cases: Seq[Case] = Seq(
    Case("slug_truncate", fields("a" -> StringType, "b" -> IntegerType),
      Seq(Row("radiacines-saugos-centro-isduotu-galiojanciu-licenciju-verstis", 42),
        Row(null, 10), Row("", 10), Row("ąčę-žūvis-šūvis-ėglė-ąžuolas", 12),
        Row("a-b", null), Row("a-b-c-d-e-f-g", 0)),
      { case Seq(a, b) => GraftBridge.column(SlugTruncate(expr(a), expr(b))) },
      { case Seq(_, b) => GraftBridge.column(SlugTruncate(expr(b), expr(b))) }),
    Case("unidecode", strings, texts,
      { case Seq(a) => TextFunctions.unidecode(a) },
      { case Seq(_) => TextFunctions.unidecode(lit(1)) }),
    Case("tag_pipeline", strings, texts,
      { case Seq(a) => TagPipeline(a) },
      { case Seq(_) => TagPipeline(lit(1)) },
      spec = Some({ case Seq(a) => TextFunctions.packageTagsHof(a) })),
    Case("char_trigrams", strings, texts :+ Row("ab") :+ Row("ŽĄSIS"),
      { case Seq(a) => CharTrigrams(a) },
      { case Seq(_) => CharTrigrams(lit(1)) },
      spec = Some({ case Seq(a) => TextAnalysis.charTrigramsHof(a) })),
    Case("char_stats", strings, texts :+ Row("ąą😀a😀"),
      { case Seq(a) => CharStats(a) },
      { case Seq(_) => CharStats(lit(1)) }),
    Case("dot_product", fields("a" -> ArrayType(DoubleType), "b" -> ArrayType(DoubleType)),
      Seq(Row(Seq(1.0, 2.0), Seq(3.0, 4.0)), Row(null, Seq(1.0)), Row(Seq(1.0), null),
        Row(Seq.empty[Double], Seq.empty[Double]), Row(Seq(1.0), Seq(1.0, 2.0)),
        Row(Seq(NaN, 1.0), Seq(1.0, 1.0)), Row(Seq(Inf), Seq(-Inf)),
        Row(Seq(Inf), Seq(0.0)), Row(Seq(1.0, null), Seq(1.0, 1.0))),
      { case Seq(a, b) => DotProduct(a, b) },
      { case Seq(a, _) => DotProduct(a, typedlit(Seq(1.0f))) },
      spec = Some({ case Seq(a, b) => Similarity.dotHof(a, b) })),
    Case("quantize_int8", vectors, doubles,
      { case Seq(a) => QuantizeInt8(a) },
      { case Seq(_) => QuantizeInt8(typedlit(Seq(1L))) }),
    Case("word_shingles", tokenArrays, tokens,
      { case Seq(a) => WordShingles(a) },
      { case Seq(_) => WordShingles(lit("a b c")) },
      spec = Some({ case Seq(a) => TextHash.shingles3Hof(a) })),
    Case("ngram_dup_stats", tokenArrays, tokens,
      { case Seq(a) => NgramDupStats(a) },
      { case Seq(_) => NgramDupStats(lit("a b c")) },
      spec = Some({ case Seq(a) => TextAnalysis.ngramDupStatsHof(a) })),
    Case("rolling_fingerprint", tokenArrays, tokens,
      { case Seq(a) => RollingFingerprint(a) },
      { case Seq(_) => RollingFingerprint(lit("a")) }),
    Case("simhash_sketch", tokenArrays, tokens,
      { case Seq(a) => SimhashSketch(a) },
      { case Seq(_) => SimhashSketch(lit("a")) }),
    Case("simhash64_sketch", tokenArrays, tokens,
      { case Seq(a) => Simhash64Sketch(a) },
      { case Seq(_) => Simhash64Sketch(lit("a")) }),
    Case("minhash_sig", tokenArrays, tokens,
      { case Seq(a) => MinhashSig(a, 4) },
      { case Seq(_) => MinhashSig(lit("a"), 4) }),
    Case("hashed_score", tokenArrays, tokens,
      { case Seq(a) => HashedScore(a, weights, salt) },
      { case Seq(_) => HashedScore(lit("a"), weights, salt) },
      spec = Some({ case Seq(a) => TextAnalysis.modelScoreHof(a, weights) })),
    Case("bloom_contains", fields("a" -> ArrayType(LongType), "b" -> LongType),
      Seq(Row(Seq(2L, -1L), 7L), Row(Seq(2L, 0L), 7L), Row(null, 7L),
        Row(Seq(1L, -1L, 0L), null), Row(Seq(3L, 0L, -1L), Long.MinValue)),
      { case Seq(a, b) => BloomContains(a, b) },
      { case Seq(a, _) => BloomContains(a, lit("7")) }),
    Case("nearest_centroid", fields("a" -> ArrayType(DoubleType), "b" -> DoubleType,
        "c" -> centroids),
      Seq(Row(Seq(1.0, 0.0), 1.0, twoCents), Row(null, 1.0, twoCents),
        Row(Seq(1.0, 0.0), null, twoCents), Row(Seq(1.0, 0.0), 1.0, null),
        Row(Seq(1.0, 0.0), 1.0, Seq.empty[Row]), Row(Seq.empty[Double], 1.0, twoCents),
        Row(Seq(NaN, 0.0), 1.0, twoCents), Row(Seq(0.0, 1.0), Inf, twoCents),
        Row(Seq(0.0, 1.0), 0.0, twoCents), Row(Seq(-Inf, 1.0), 1.0, twoCents)),
      { case Seq(a, b, c) => NearestCentroid(a, b, c) },
      { case Seq(_, b, c) => NearestCentroid(lit("v"), b, c) }),
    Case("nearest_code", fields("a" -> ArrayType(DoubleType), "b" -> codebooks),
      Seq(Row(Seq(1.0, 0.0), twoBooks), Row(null, twoBooks), Row(Seq(1.0, 0.0), null),
        Row(Seq(1.0, 0.0), Seq.empty[Row]), Row(Seq.empty[Double], twoBooks),
        Row(Seq(NaN, 0.0), twoBooks), Row(Seq(Inf, 0.0), twoBooks),
        Row(Seq(1.0, null), twoBooks)),
      { case Seq(a, b) => NearestCode(a, b) },
      { case Seq(_, b) => NearestCode(lit("v"), b) }),
    Case("json_project", fields("a" -> StringType, "b" -> DoubleType,
        "c" -> ArrayType(StringType)),
      Seq(Row("Šaltinis \"q\"\n", 1.5, Seq("ą", null)), Row(null, null, null),
        Row("", NaN, Seq.empty[String]), Row("中文", Inf, Seq("")),
        Row("x", -Inf, Seq("a\\b"))),
      { case Seq(a, b, c) => JsonProject(struct(a.as("a"), b.as("b"), c.as("c"))) },
      { case Seq(a, _, _) => JsonProject(a) },
      spec = Some({ case Seq(a, b, c) => to_json(struct(a.as("a"), b.as("b"), c.as("c"))) })))

  private def frame(c: Case): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(c.rows, 1), c.schema)

  private def inputs(c: Case): Seq[Column] = c.schema.fieldNames.toSeq.map(col)

  /** Runs `body` with the given runtime confs set, restoring them after. */
  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The rows of `f` over `c`'s frame, in input order, rendered as text
    * (so NaN equals NaN), with whole-stage codegen on or off.
    */
  private def run(c: Case, f: Seq[Column] => Column, generated: Boolean): Seq[String] = {
    val mode = if (generated) "CODEGEN_ONLY" else "NO_CODEGEN"
    withConfs("spark.sql.codegen.factoryMode" -> mode,
        "spark.sql.codegen.wholeStage" -> generated.toString) {
      val df = frame(c).select(f(inputs(c)).as("r"))
      val compiled = df.queryExecution.executedPlan
        .find(_.isInstanceOf[WholeStageCodegenExec]).isDefined
      assert(compiled == generated, df.queryExecution.executedPlan.toString)
      df.collect().toSeq.map(_.toString)
    }
  }

  cases.foreach { c =>
    test(s"${c.name}: interpreted and generated code agree on degenerate inputs") {
      val interpreted = run(c, c.call, generated = false)
      val generated = run(c, c.call, generated = true)
      assert(interpreted.size == c.rows.size)
      c.rows.indices.foreach { i =>
        assert(interpreted(i) == generated(i), s"input ${c.rows(i)}")
      }
      c.spec.foreach { spec =>
        val expected = run(c, spec, generated = true)
        c.rows.indices.foreach { i =>
          assert(generated(i) == expected(i), s"spec form differs on input ${c.rows(i)}")
        }
      }
    }

    test(s"${c.name}: a wrong-typed input fails analysis") {
      val err = intercept[AnalysisException](frame(c).select(c.wrong(inputs(c))))
      assert(err.getMessage.contains(s"${c.name} requires"), err.getMessage)
    }
  }

  test("the codegen factory mode and whole-stage codegen are restored") {
    val keys = Set("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val before = spark.conf.getAll.filter { case (k, _) => keys(k) }
    run(cases.head, cases.head.call, generated = false)
    assert(spark.conf.getAll.filter { case (k, _) => keys(k) } == before)
  }

  test("collated strings pass the string check, with the same results") {
    Seq("slug_truncate", "unidecode", "tag_pipeline", "char_trigrams", "char_stats").foreach { name =>
      val c = cases.find(_.name == name).get
      val lcase = (args: Seq[Column]) => c.call(collate(args.head, "UTF8_LCASE") +: args.tail)
      assert(run(c, lcase, generated = true) == run(c, c.call, generated = true), name)
    }
  }

  test("hashed_score: a non-literal salt fails analysis") {
    val c = cases.find(_.name == "hashed_score").get
    val err = intercept[AnalysisException](frame(c).select(
      viaBuilder(HashedScore.builder, col("a"), weights, concat(lit(salt), col("a")(0)))))
    assert(err.getMessage.contains("hashed_score requires"), err.getMessage)
  }

  Seq("a non-literal k" -> size(col("a")), "k = 0" -> lit(0)).foreach { case (what, k) =>
    test(s"minhash_sig: $what fails analysis") {
      val c = cases.find(_.name == "minhash_sig").get
      val err = intercept[AnalysisException](frame(c).select(
        viaBuilder(MinhashSig.builder, col("a"), k)))
      assert(err.getMessage.contains("minhash_sig requires"), err.getMessage)
    }
  }

  /** Sketches `bloom_build` never makes: no words, no bitset word, a hash
    * count below 1, and one past `Int.MaxValue`.
    */
  private val badSketches = Seq(Seq.empty[Long], Seq(1L), Seq(0L, -1L),
    Seq(-3L, -1L), Seq(1L << 32, -1L))

  Seq("interpreted" -> false, "generated" -> true).foreach { case (mode, generated) =>
    test(s"bloom_contains: a sketch bloom_build did not make fails with a message, $mode") {
      val c = cases.find(_.name == "bloom_contains").get
      for (sketch <- badSketches; literal <- Seq(false, true)) {
        val call: Seq[Column] => Column = {
          case Seq(a, b) => BloomContains(if (literal) typedlit(sketch) else a, b)
        }
        val err = intercept[Exception](
          run(c.copy(rows = Seq(Row(sketch, 7L))), call, generated))
        val messages = Iterator.iterate[Throwable](err)(_.getCause)
          .takeWhile(_ != null).flatMap(e => Option(e.getMessage))
        assert(messages.exists(_.contains("bloom_contains: not a bloom_build sketch")),
          s"sketch $sketch, literal = $literal: $err")
      }
    }
  }

  // ---- sketch aggregates ----------------------------------------------------

  /** Group 1 is eight hashes (with repeats) and their CMS bucket pairs,
    * spread over all 4 partitions, so its sketch is merged from serialized
    * partial buffers; group 2 is all NULL. `s` and `k` feed the misuse rows.
    */
  private val sketchSchema = fields("g" -> IntegerType, "h" -> LongType,
    "b" -> ArrayType(IntegerType), "s" -> StringType, "k" -> IntegerType)
  private val sketchRows =
    Seq(5L, 3L, 9L, 3L, 1L << 31, 7L, (3L << 30) + 1, 9L).map { h =>
      Row(1, h, Seq((h % 4).toInt, ((h >>> 2) % 4).toInt), "x", 8)
    } ++ Seq.fill(2)(Row(2, null, null, null, null))

  private def sketchFrame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), sketchSchema)

  /** Each aggregate: its call, its value for group 1, its value for the
    * all-NULL group (also its value over zero rows), and SQL misuses: a
    * wrong value type, a non-literal geometry, a BIGINT geometry literal,
    * a wrong arity and an out-of-bound geometry.
    */
  private val sketches: Seq[(String, Column, String, String, Seq[String])] = Seq(
    ("kmin_values", KMinValues(col("h"), 3), "[3, 5, 7]", "[]",
      Seq("kmin_values(s, 3)", "kmin_values(h, k)", "kmin_values(h, 3L)",
        "kmin_values(h)", "kmin_values(h, 1)")),
    ("hll_registers", HllRegisters(col("h"), 2), "[29, 0, 31, 30]", "[0, 0, 0, 0]",
      Seq("hll_registers(s, 2)", "hll_registers(h, k)", "hll_registers(h, 2L)",
        "hll_registers(h, 2, 2)", "hll_registers(h, 17)")),
    ("cms_sketch", CmsSketch(col("b"), 2, 4), "[1, 4, 0, 3, 4, 2, 2, 0]",
      "[0, 0, 0, 0, 0, 0, 0, 0]",
      Seq("cms_sketch(h, 2, 4)", "cms_sketch(b, 2, k)", "cms_sketch(b, 2L, 4)",
        "cms_sketch(b, 2)", "cms_sketch(b, 0, 4)")),
    ("bloom_build", BloomBuild(col("h"), 64, 2), "[2, 18018800919134891]", "[2, 0]",
      Seq("bloom_build(s, 64, 2)", "bloom_build(h, k, 2)", "bloom_build(h, 64L, 2)",
        "bloom_build(h, 64)", "bloom_build(h, 100, 2)")))

  private def rendered(r: Row): String = r.getSeq[Any](0).mkString("[", ", ", "]")

  /** `agg` per group and over zero rows, under ObjectHashAggregate or,
    * with it switched off, SortAggregate.
    */
  private def sketchRun(agg: Column, objectHash: Boolean): (Seq[String], String) =
    withConfs("spark.sql.execution.useObjectHashAggregateExec" -> objectHash.toString) {
      val grouped = sketchFrame(sketchRows).groupBy("g").agg(agg.as("r"))
        .orderBy("g").select("r")
      val operator = if (objectHash) "ObjectHashAggregate" else "SortAggregate"
      assert(grouped.queryExecution.executedPlan.toString.contains(operator),
        grouped.queryExecution.executedPlan.toString)
      (grouped.collect().toSeq.map(rendered),
        rendered(sketchFrame(Nil).agg(agg.as("r")).head()))
    }

  sketches.foreach { case (name, agg, group, allNull, misuses) =>
    Seq("ObjectHashAggregate" -> true, "SortAggregate" -> false).foreach {
      case (operator, objectHash) =>
        test(s"$name: zero rows, all-NULL and split groups, $operator") {
          assert(sketchRun(agg, objectHash) == (Seq(group, allNull), allNull))
        }
    }

    test(s"$name: misuse fails analysis") {
      GraftCatalog.registerFunctions(spark)
      sketchFrame(sketchRows).createOrReplaceTempView("sketch_input")
      try misuses.foreach { call =>
        val err = intercept[AnalysisException](spark.sql(s"SELECT $call FROM sketch_input"))
        assert(err.getMessage.contains(s"$name requires ("), s"$call: ${err.getMessage}")
      } finally spark.catalog.dropTempView("sketch_input")
    }
  }

  test("slug_truncate: SQL with wrong-typed arguments fails analysis") {
    GraftCatalog.registerFunctions(spark)
    val err = intercept[AnalysisException](spark.sql("SELECT slug_truncate(1, 2)"))
    assert(err.getMessage.contains("slug_truncate requires"), err.getMessage)
  }
}
