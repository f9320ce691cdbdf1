package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions (with doGenCode — they stay inside
  * WholeStageCodegen, unlike Scala UDFs) exposing the engine's scalar layer
  * to SQL / DataFrame users:
  *
  *   graft_shape(s): the dan2 word-shape string (WordShapeClassifier semantics,
  *     /root/reference/src/edu/stanford/nlp/process/WordShapeClassifier.java:232-265;
  *     without the corpus-dependent known-LC 'k' suffix, which needs model state)
  *   graft_fnv64(s): the engine's 64-bit FNV-1a hash (dedup keys / feature
  *     hashing, identical to graft.ops.Hashing.fnv1a64)
  */
case class GraftShape(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_shape requires STRING, got ${child.dataType}")
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(graft.text.WordShape.dan2NoLC(v.toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(graft.text.WordShape.dan2NoLC($c.toString()))")
  override protected def withNewChildInternal(newChild: Expression): GraftShape = copy(newChild)
  override def prettyName: String = "graft_shape"
}

case class GraftFnv64(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_fnv64 requires STRING, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(graft.ops.Hashing.fnv1a64(v.toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.Hashing.fnv1a64($c.toString())")
  override protected def withNewChildInternal(newChild: Expression): GraftFnv64 = copy(newChild)
  override def prettyName: String = "graft_fnv64"
}

/** Cosine similarity of two float-array columns, accumulated in double with a
  * fixed left-to-right fold — bit-identical to the previous
  * zip_with+aggregate Catalyst formulation (and to the DuckDB oracle's
  * list_dot_product over DOUBLE[]), but ~300x cheaper per pair: the
  * higher-order-function route interprets the lambda per element with boxing,
  * while this stays a primitive loop inside WholeStageCodegen.
  */
case class GraftCosine(left: Expression, right: Expression) extends BinaryExpression {
  private def ok(t: DataType) = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_cosine requires (ARRAY<FLOAT>, ARRAY<FLOAT>), got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    GraftCosine.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.GraftCosine.compute($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): GraftCosine =
    copy(newLeft, newRight)
  override def prettyName: String = "graft_cosine"
}

object GraftCosine {
  /** dot over the common prefix; norms over each full array (embeddings are
    * fixed-dim, so lengths always match in practice).
    */
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    var na = 0.0
    i = 0
    while (i < a.numElements()) { val v = a.getFloat(i).toDouble; na += v * v; i += 1 }
    var nb = 0.0
    i = 0
    while (i < b.numElements()) { val v = b.getFloat(i).toDouble; nb += v * v; i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** Distinct word n-gram shingles of lower(text) under the engine's token
  * regex ([a-z0-9]+|[^a-z0-9\s]) — semantically identical to
  *   array_distinct(transform(sequence(1, size(toks)-(n-1)),
  *                  i => concat_ws(" ", slice(toks, i, n))))
  * over regexp_extract_all, but one compiled pass: the higher-order-function
  * chain interprets its lambdas per element and copies a slice per shingle
  * (~10s for 5000 docs at sf0.1 — it dominated q18), this is ~0.3s.
  * Returns an EMPTY array when the document has fewer than n tokens.
  */
case class GraftShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_shingles requires STRING, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    GraftShingles.compute(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftShingles.compute($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): GraftShingles =
    copy(child = newChild)
  override def prettyName: String = "graft_shingles"
}

object GraftShingles {
  def compute(text: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    // UTF8String.toLowerCase = locale-independent lower, same as Spark's lower()
    // Tokenization via the shared hand-rolled scanner (GraftTokens.tokenize),
    // output-identical to the previous TokPat find() loop (r6: ~3x cheaper;
    // ExpressionsSpec pins the regex equivalence).
    val s = text.toLowerCase.toString
    val toks = GraftTokens.tokenize(s)
    val nt = toks.size
    if (nt < n) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    // first-occurrence-ordered distinct, matching array_distinct
    val seen = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= nt - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks.get(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Token array of lower(text) under the engine's token regex
  * ([a-z0-9]+|[^a-z0-9\s]) — output-identical to
  * `regexp_extract_all(lower(text), TokPat, 0)` (ExpressionsSpec asserts the
  * equivalence over the corpus plus unicode edge cases), but a single
  * hand-rolled scan instead of a java.util.regex find() loop: the alternation
  * is unambiguous (greedy [a-z0-9] run, else one non-space code point, else
  * skip ASCII whitespace), so no backtracking machinery is needed. ~3x
  * cheaper per document at sf0.1 (q11/q12 are tokenize-bound).
  */
case class GraftTokens(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_tokens requires STRING, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    GraftTokens.compute(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftTokens.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): GraftTokens =
    copy(child = newChild)
  override def prettyName: String = "graft_tokens"
}

object GraftTokens {
  @inline private def isTok(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
  // java.util.regex \s (no UNICODE_CHARACTER_CLASS) = [ \t\n\x0B\f\r] exactly
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Tokenize the (already lowercased) string; one token per [a-z0-9]+ run or
    * per non-space code point (surrogate pairs stay one token, matching how a
    * regex character class consumes one code point).
    */
  def tokenize(s: String): java.util.ArrayList[String] = {
    val out = new java.util.ArrayList[String]()
    val n = s.length
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (isTok(c)) {
        var j = i + 1
        while (j < n && isTok(s.charAt(j))) j += 1
        out.add(s.substring(i, j))
        i = j
      } else if (isWs(c)) i += 1
      else {
        val j = if (Character.isHighSurrogate(c) && i + 1 < n &&
          Character.isLowSurrogate(s.charAt(i + 1))) i + 2 else i + 1
        out.add(s.substring(i, j))
        i = j
      }
    }
    out
  }

  def compute(text: UTF8String): ArrayData = {
    val toks = tokenize(text.toLowerCase.toString)
    val out = new Array[Any](toks.size)
    var k = 0
    while (k < toks.size) { out(k) = UTF8String.fromString(toks.get(k)); k += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** One-pass token statistics of lower(text):
  * struct(n_tokens int, n_alpha int, sum_token_len bigint), output-identical
  * to the q12 formulation
  *   size(tk), size(filter(tk, rlike ^[a-z]+$)), aggregate(tk, 0L, acc+length)
  * over tk = regexp_extract_all(lower(text), TokPat, 0) — but computed in a
  * single scan with no intermediate token array and no interpreted
  * higher-order lambdas (filter/aggregate are CodegenFallback in Spark 4).
  * Token length counts CODE POINTS (Spark's length() = UTF8String.numChars):
  * symbol tokens are one code point by construction, run tokens are ASCII.
  */
case class GraftTokenStats(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_token_stats requires STRING, got ${child.dataType}")
  override def dataType: DataType = GraftTokenStats.schema
  override def nullSafeEval(v: Any): Any =
    GraftTokenStats.compute(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftTokenStats.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): GraftTokenStats =
    copy(child = newChild)
  override def prettyName: String = "graft_token_stats"
}

object GraftTokenStats {
  val schema: org.apache.spark.sql.types.StructType =
    new org.apache.spark.sql.types.StructType()
      .add("n_tokens", org.apache.spark.sql.types.IntegerType, nullable = false)
      .add("n_alpha", org.apache.spark.sql.types.IntegerType, nullable = false)
      .add("sum_token_len", org.apache.spark.sql.types.LongType, nullable = false)

  @inline private def isAlpha(c: Char): Boolean = c >= 'a' && c <= 'z'
  @inline private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  def compute(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toLowerCase.toString
    val n = s.length
    var i = 0
    var nTokens = 0
    var nAlpha = 0
    var sumLen = 0L
    while (i < n) {
      val c = s.charAt(i)
      if (isAlpha(c) || isDigit(c)) {
        var j = i + 1
        var allAlpha = isAlpha(c)
        while (j < n && { val d = s.charAt(j); isAlpha(d) || isDigit(d) }) {
          if (!isAlpha(s.charAt(j))) allAlpha = false
          j += 1
        }
        nTokens += 1
        if (allAlpha) nAlpha += 1
        sumLen += (j - i) // ASCII run: chars == code points
        i = j
      } else if (isWs(c)) i += 1
      else {
        // one code point = one token of length() 1 (numChars counts code points)
        i += (if (Character.isHighSurrogate(c) && i + 1 < n &&
          Character.isLowSurrogate(s.charAt(i + 1))) 2 else 1)
        nTokens += 1
        sumLen += 1L
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTokens, nAlpha, sumLen))
  }
}

/** Multi-table random-hyperplane LSH signatures for a float-array embedding:
  * element t = the `bitsPerTable`-bit sign signature under table t's
  * deterministic hyperplanes (seed 0xb175 + 7919*t — identical constants to
  * Similarity.rhpWeight, which the q23 DuckDB oracle embeds). Replaces the
  * per-row Scala UDF that generated q23's keys: same output, but stays inside
  * WholeStageCodegen like the rest of the engine's scalar layer.
  */
case class GraftRhpSignatures(child: Expression, nTables: Int, bitsPerTable: Int)
    extends UnaryExpression {
  require(nTables >= 1 && bitsPerTable >= 1 && bitsPerTable <= 64)
  private def ok(t: DataType) = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (ok(child.dataType)) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_rhp_signatures requires ARRAY<FLOAT>, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    GraftRhpSignatures.compute(v.asInstanceOf[ArrayData], nTables, bitsPerTable)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.GraftRhpSignatures.compute($c, $nTables, $bitsPerTable)")
  override protected def withNewChildInternal(newChild: Expression): GraftRhpSignatures =
    copy(child = newChild)
  override def prettyName: String = "graft_rhp_signatures"
}

object GraftRhpSignatures {
  def compute(emb: ArrayData, nTables: Int, bitsPerTable: Int): ArrayData = {
    val a = emb.toFloatArray()
    val out = new Array[Any](nTables)
    var t = 0
    while (t < nTables) {
      out(t) = java.lang.Long.valueOf(
        graft.ops.Similarity.rhpSignature(a, bitsPerTable, seed = 0xb175L + 7919L * t))
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

object GraftFunctions {
  /** Column-API wrappers (require register(spark) once per session). */
  def graft_shape(c: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_shape", c)
  def graft_fnv64(c: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_fnv64", c)
  def graft_cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_cosine", a, b)
  def graft_tokens(c: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_tokens", c)
  def graft_token_stats(c: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_token_stats", c)
  def graft_shingles(c: Column, n: Int): Column =
    org.apache.spark.sql.functions.call_function(s"graft_shingles_$n", c)
  def graft_rhp_signatures(c: Column, nTables: Int, bitsPerTable: Int): Column =
    org.apache.spark.sql.functions.call_function(s"graft_rhp_${nTables}_$bitsPerTable", c)

  /** Register for SQL: SELECT graft_shape(word), graft_fnv64(text) ...
    * Every query calls this, so a name the session's registry already holds
    * is left as it is: the first call registers, later calls replace nothing.
    */
  def register(spark: SparkSession): Unit = {
    registerOnce(spark, "graft_shape")(exprs => GraftShape(exprs.head))
    registerOnce(spark, "graft_fnv64")(exprs => GraftFnv64(exprs.head))
    registerOnce(spark, "graft_cosine")(exprs => GraftCosine(exprs(0), exprs(1)))
    registerOnce(spark, "graft_tokens")(exprs => GraftTokens(exprs.head))
    registerOnce(spark, "graft_token_stats")(exprs => GraftTokenStats(exprs.head))
    for (n <- 1 to 8) // one registered name per shingle width (n is static)
      registerOnce(spark, s"graft_shingles_$n")(exprs => GraftShingles(exprs.head, n))
    // one registered name per (tables, bits) pair actually used (static
    // params); callers with other shapes use registerRhp below
    for ((t, b) <- Seq((16, 6), (8, 8))) registerRhp(spark, t, b)
  }

  /** Register the rhp-signature function for an arbitrary (nTables,
    * bitsPerTable) pair — Similarity.lshTopK calls this for its own
    * parameters, so the public API accepts any shape (review finding: only
    * two static pairs were registered, a regression vs the old UDF).
    */
  def registerRhp(spark: SparkSession, nTables: Int, bitsPerTable: Int): Unit =
    registerOnce(spark, s"graft_rhp_${nTables}_$bitsPerTable")(
      exprs => GraftRhpSignatures(exprs.head, nTables, bitsPerTable))

  private def registerOnce(spark: SparkSession, name: String)(build: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.synchronized {
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, build, "built-in")
    }
  }
}
