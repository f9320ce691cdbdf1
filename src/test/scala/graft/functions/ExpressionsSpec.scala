package graft.functions

import graft.pipeline.SparkTestSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ExpressionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Edge cases for the r6 hand-rolled token scanner: every java-regex \s
    * char, non-ASCII symbols (NBSP is NOT \s), digits/alpha boundaries,
    * surrogate pairs (one code point = one token), unicode lowercasing.
    */
  private val tokenEdgeCases = Seq(
    "", " ", "\t\n\f\r", "hello world", "a1b2 c3", "x,y;z!", "ü ö π",
    " nbsp", "mixed CASE Text", "𝕏 math 𝟙23", "é combining",
    "a-b_c.d", "  double  spaces  ", "123", "!@#$%", "ab­cd",
    "İstanbul", "ẞharp", "tab\there", "emoji 😀 pair")

  test("graft_tokens == regexp_extract_all(lower(text), TokPat) — corpus + edge cases") {
    GraftFunctions.register(spark)
    val pat = graft.ops.TextAnalysis.TokenPattern.toLowerCase // [a-z0-9]+|[^a-z0-9\s]
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"text").as[String].collect().toSeq
    val df = (corpus ++ tokenEdgeCases).toDF("text")
    val bad = df.select(
        GraftFunctions.graft_tokens($"text").as("fast"),
        regexp_extract_all(lower($"text"), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0)).as("slow"))
      .where(not($"fast" <=> $"slow")).count()
    assert(bad == 0, s"scanner disagrees with regex on $bad inputs (pat=$pat)")
  }

  test("graft_token_stats == size/filter/aggregate over the token array — corpus + edge cases") {
    GraftFunctions.register(spark)
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"text").as[String].collect().toSeq
    val df = (corpus ++ tokenEdgeCases).toDF("text")
    val tk = regexp_extract_all(lower($"text"), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0))
    val bad = df.select(
        GraftFunctions.graft_token_stats($"text").as("st"),
        size(tk).as("n_tokens"),
        size(filter(tk, x => x.rlike("^[a-z]+$"))).as("n_alpha"),
        aggregate(tk, lit(0L), (acc, x) => acc + length(x)).as("sum_token_len"))
      .where(not($"st.n_tokens" <=> $"n_tokens") ||
        not($"st.n_alpha" <=> $"n_alpha") ||
        not($"st.sum_token_len" <=> $"sum_token_len")).count()
    assert(bad == 0, s"token stats disagree on $bad inputs")
  }

  test("graft_shingles over the fast scanner == the regex formulation (shared contract)") {
    GraftFunctions.register(spark)
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"text").as[String].collect().toSeq
    val df = (corpus ++ tokenEdgeCases).toDF("text")
    // reconstruct shingles from the REGEX token array (the pre-r6 contract)
    val tk = regexp_extract_all(lower($"text"), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0))
    val viaRegex = array_distinct(transform(
      sequence(lit(1), greatest(size(tk) - 2, lit(0))),
      i => concat_ws(" ", slice(tk, i, lit(3)))))
    val bad = df.where(size(tk) >= 3).select(
        GraftFunctions.graft_shingles($"text", 3).as("fast"), viaRegex.as("slow"))
      .where(not($"fast" <=> $"slow")).count()
    assert(bad == 0, s"shingles disagree on $bad inputs")
  }

  test("graft_shape / graft_fnv64 native expressions: SQL, Column API, codegen") {
    GraftFunctions.register(spark)
    val words = Seq("Alice", "ALICE", "the", "U.S.", "3.5", "iPhone", "").toDF("w")
    words.createOrReplaceTempView("words_t")
    // SQL surface
    val sql = spark.sql("SELECT w, graft_shape(w) AS s, graft_fnv64(w) AS h FROM words_t").collect()
    for (r <- sql) {
      assert(r.getString(1) == graft.text.WordShape.dan2NoLC(r.getString(0)))
      assert(r.getLong(2) == graft.ops.Hashing.fnv1a64(r.getString(0)))
    }
    // Column API surface
    val viaCol = words.select(GraftFunctions.graft_shape($"w")).as[String].collect()
    assert(viaCol.toSet == sql.map(_.getString(1)).toSet)
    // nulls propagate
    val n = Seq[(Integer, String)]((1, null)).toDF("i", "w")
      .select(GraftFunctions.graft_shape($"w")).collect()
    assert(n.head.isNullAt(0))
    // stays inside whole-stage codegen (no fallback): over a parquet scan the
    // expression must sit inside a codegen'd ("*(n)") Project stage (a local
    // relation would be constant-folded away)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(GraftFunctions.graft_fnv64($"text").as("h"), GraftFunctions.graft_shape($"source").as("s"))
    docs.collect()
    val plan = docs.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"expected codegen stage, got:\n$plan")
    assert(!plan.toLowerCase.contains("fallback"), plan)
  }

  test("a second register leaves the session's function registry untouched") {
    GraftFunctions.register(spark)
    val registry = spark.sessionState.functionRegistry
    val names = registry.listFunction().filter(_.funcName.startsWith("graft_")).sortBy(_.funcName)
    def builders = names.map(n => registry.lookupFunctionBuilder(n).get)
    val before = builders
    assert(names.map(_.funcName).contains("graft_rhp_16_6") && names.length >= 15, names)
    GraftFunctions.register(spark)
    GraftFunctions.registerRhp(spark, 16, 6)
    before.zip(builders).zip(names).foreach { case ((b, a), n) =>
      assert(a eq b, s"$n was registered again")
    }
    assert(registry.listFunction().count(_.funcName.startsWith("graft_")) == names.length)
    // SQL keeps resolving the registered functions
    assert(spark.sql("SELECT graft_shape('Alice')").head.getString(0) ==
      graft.text.WordShape.dan2NoLC("Alice"))
  }
}
