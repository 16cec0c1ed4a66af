package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DoubleType, StringType}

import graft.agg.{ApproxWeightedQuantile, MajorAgg, WeightedQuantile}

/** SQL registration for the engine's custom aggregates, so `spark.sql`
  * users get the same surface as the Column API:
  *
  *   SELECT lito, weighted_quantile(grade, mine * volume, 0.5), major(lito)
  *   FROM blocks GROUP BY lito
  */
object GraftFunctions {
  /** Lift a Column→Column composition into a SQL function builder: the
    * child expression round-trips through the Column API, so every
    * Column-form operator in [[graft.ext.TextAnalysis]] registers without
    * a parallel catalyst-node implementation. */
  private def columnFn(e: Expression)(f: Column => Column): Expression =
    Bridge.expressionEager(f(Bridge.column(e)))

  /** [[columnFn]] for a two-argument Column form. */
  private def columnFn2(a: Expression, b: Expression)(f: (Column, Column) => Column): Expression =
    Bridge.expressionEager(f(Bridge.column(a), Bridge.column(b)))

  /** Literal numeric argument (the quantile q) → double. */
  private def literalDouble(e: Expression): Double =
    e.eval() match {
      case d: java.lang.Double => d.doubleValue()
      case d: java.math.BigDecimal => d.doubleValue()
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case n: java.lang.Number => n.doubleValue()
      case other => throw new IllegalArgumentException(s"q must be a literal, got $other")
    }

  /** Literal integer argument `i` (0-based) of SQL function `fn`, or
    * `default` when the call omits it. A column argument fails here, naming
    * the function — not later inside Spark's own eval. */
  private def literalInt(fn: String, exprs: Seq[Expression], i: Int, default: Int = 0): Int =
    if (exprs.length <= i) default
    else Some(exprs(i)).filter(_.foldable).map(_.eval()) match {
      case Some(n: java.lang.Number) => n.intValue()
      case _ => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be a literal integer, got ${exprs(i).sql}")
    }

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.createOrReplaceTempFunction("weighted_quantile", exprs => {
      require(exprs.length == 3, "weighted_quantile(value, weight, q)")
      WeightedQuantile(Cast(exprs(0), DoubleType), Cast(exprs(1), DoubleType),
        literalDouble(exprs(2)))
    }, "built-in")
    registry.createOrReplaceTempFunction("approx_weighted_quantile", exprs => {
      require(exprs.length == 3 || exprs.length == 4,
        "approx_weighted_quantile(value, weight, q[, maxBins])")
      ApproxWeightedQuantile(Cast(exprs(0), DoubleType), Cast(exprs(1), DoubleType),
        literalDouble(exprs(2)), literalInt("approx_weighted_quantile", exprs, 3, 256))
    }, "built-in")
    registry.createOrReplaceTempFunction("hashed_shingles", exprs => {
      require(exprs.length == 1 || exprs.length == 2,
        "hashed_shingles(text[, n])")
      val n = literalInt("hashed_shingles", exprs, 1, 3)
      columnFn(exprs.head)(graft.functions.HashedShingles.column(_, n))
    }, "built-in")
    registry.createOrReplaceTempFunction("simhash", exprs => {
      require(exprs.length == 1, "simhash(text)")
      columnFn(exprs.head)(graft.functions.SimHashSketch.column)
    }, "built-in")
    registry.createOrReplaceTempFunction("sorted_intersect_size", exprs => {
      require(exprs.length == 2, "sorted_intersect_size(a, b)")
      columnFn2(exprs(0), exprs(1))(graft.functions.SetSimilarity.sortedIntersectSize)
    }, "built-in")
    registry.createOrReplaceTempFunction("jaccard_sorted", exprs => {
      require(exprs.length == 2, "jaccard_sorted(a, b)")
      columnFn2(exprs(0), exprs(1))(graft.functions.SetSimilarity.jaccardSorted)
    }, "built-in")
    registry.createOrReplaceTempFunction("redact_pii", exprs => {
      require(exprs.length == 1, "redact_pii(text)")
      import org.apache.spark.sql.catalyst.expressions.{Literal, RegExpReplace}
      // same pattern list as TextAnalysis.redactPii — one source of truth
      graft.ext.TextAnalysis.PiiPatterns.foldLeft(exprs.head: Expression) {
        case (e, (re, tag)) => RegExpReplace(e, Literal(re), Literal(tag))
      }
    }, "built-in")
    registry.createOrReplaceTempFunction("vec_dot", exprs => {
      require(exprs.length == 2, "vec_dot(a, b)")
      columnFn2(exprs(0), exprs(1))(graft.functions.DotProduct.column)
    }, "built-in")
    registry.createOrReplaceTempFunction("bounded_list", exprs => {
      require(exprs.length == 2, "bounded_list(value, cap)")
      graft.agg.BoundedListAgg(Cast(exprs(0), StringType), literalInt("bounded_list", exprs, 1))
    }, "built-in")
    // text-analysis surface: the Column-form operators lifted to SQL
    registry.createOrReplaceTempFunction("token_count", exprs => {
      require(exprs.length == 1, "token_count(t)")
      columnFn(exprs.head)(graft.ext.TextAnalysis.tokenCount)
    }, "built-in")
    registry.createOrReplaceTempFunction("lang_id", exprs => {
      require(exprs.length == 1, "lang_id(t)")
      columnFn(exprs.head)(graft.ext.TextAnalysis.langId)
    }, "built-in")
    registry.createOrReplaceTempFunction("quality_score", exprs => {
      require(exprs.length == 1, "quality_score(t)")
      columnFn(exprs.head)(graft.ext.TextAnalysis.qualityScore)
    }, "built-in")
    registry.createOrReplaceTempFunction("normalize_text", exprs => {
      require(exprs.length == 1, "normalize_text(t)")
      columnFn(exprs.head)(graft.ext.TextAnalysis.normalize)
    }, "built-in")
    registry.createOrReplaceTempFunction("token_entropy", exprs => {
      require(exprs.length == 1, "token_entropy(t)")
      columnFn(exprs.head)(graft.ext.TextAnalysis.tokenEntropyCol)
    }, "built-in")
    registry.createOrReplaceTempFunction("deflate_ratio", exprs => {
      require(exprs.length == 1, "deflate_ratio(t)")
      columnFn(exprs.head)(graft.functions.DeflateRatio.column)
    }, "built-in")
    registry.createOrReplaceTempFunction("fingerprint", exprs => {
      require(exprs.length == 1 || exprs.length == 2, "fingerprint(t[, n])")
      val n = literalInt("fingerprint", exprs, 1, 8)
      columnFn(exprs.head)(graft.ext.TextAnalysis.fingerprint(_, n))
    }, "built-in")
    registry.createOrReplaceTempFunction("hyperplane_bucket", exprs => {
      require(exprs.length == 1 || exprs.length == 2,
        "hyperplane_bucket(vec[, bits])")
      val bits = literalInt("hyperplane_bucket", exprs, 1, 8)
      columnFn(exprs.head)(v =>
        graft.functions.HyperplaneBucket.column(v.cast("array<double>"), bits))
    }, "built-in")
    registry.createOrReplaceTempFunction("vector_mean", exprs => {
      require(exprs.length == 1, "vector_mean(vec)")
      graft.agg.VectorMeanAgg(
        Cast(exprs.head, org.apache.spark.sql.types.ArrayType(DoubleType)))
    }, "built-in")
    // Gopher-style quality signals (r6)
    registry.createOrReplaceTempFunction("mean_word_length", exprs => {
      require(exprs.length == 1, "mean_word_length(t)")
      columnFn(exprs.head)(graft.ext.TextAnalysis.meanWordLength)
    }, "built-in")
    registry.createOrReplaceTempFunction("symbol_word_ratio", exprs => {
      require(exprs.length == 1, "symbol_word_ratio(t)")
      columnFn(exprs.head)(graft.ext.TextAnalysis.symbolWordRatio)
    }, "built-in")
    registry.createOrReplaceTempFunction("alpha_word_fraction", exprs => {
      require(exprs.length == 1, "alpha_word_fraction(t)")
      columnFn(exprs.head)(graft.ext.TextAnalysis.alphaWordFraction)
    }, "built-in")
    registry.createOrReplaceTempFunction("dup_line_fraction", exprs => {
      require(exprs.length == 1, "dup_line_fraction(t)")
      columnFn(exprs.head)(graft.ext.TextAnalysis.dupLineFraction)
    }, "built-in")
    registry.createOrReplaceTempFunction("dup_para_fraction", exprs => {
      require(exprs.length == 1, "dup_para_fraction(t)")
      columnFn(exprs.head)(graft.ext.TextAnalysis.dupParaFraction)
    }, "built-in")
    registry.createOrReplaceTempFunction("dup_shingle_fraction", exprs => {
      require(exprs.length == 1 || exprs.length == 2,
        "dup_shingle_fraction(t[, n])")
      val n = literalInt("dup_shingle_fraction", exprs, 1, 3)
      columnFn(exprs.head)(graft.ext.TextAnalysis.dupShingleFraction(_, n))
    }, "built-in")
    registry.createOrReplaceTempFunction("min_md5_ngram", exprs => {
      require(exprs.length == 1 || exprs.length == 2, "min_md5_ngram(text[, n])")
      val n = literalInt("min_md5_ngram", exprs, 1, 8)
      columnFn(exprs.head)(graft.functions.MinMd5Ngram.column(_, n))
    }, "built-in")
    registry.createOrReplaceTempFunction("token_ngram_hashes", exprs => {
      require(exprs.length == 2, "token_ngram_hashes(text, k)")
      val k = literalInt("token_ngram_hashes", exprs, 1)
      columnFn(exprs.head)(graft.functions.TokenNgramHashes.column(_, k))
    }, "built-in")
    registry.createOrReplaceTempFunction("dsir_slots", exprs => {
      require(exprs.length == 2, "dsir_slots(text, buckets)")
      val buckets = literalInt("dsir_slots", exprs, 1)
      columnFn(exprs.head)(graft.functions.DsirSlots.column(_, buckets))
    }, "built-in")
    registry.createOrReplaceTempFunction("bigram_hashes", exprs => {
      require(exprs.length == 1, "bigram_hashes(text)")
      columnFn(exprs.head)(graft.functions.BigramHashes.column)
    }, "built-in")
    registry.createOrReplaceTempFunction("misra_gries", exprs => {
      require(exprs.length == 1 || exprs.length == 2,
        "misra_gries(value[, capacity])")
      graft.agg.MisraGriesAgg(Cast(exprs.head, StringType),
        literalInt("misra_gries", exprs, 1, 4096))
    }, "built-in")
    registry.createOrReplaceTempFunction("major", exprs => {
      require(exprs.length == 1, "major(value)")
      // Mirror the Column helper: MajorAgg's buffer codec only handles
      // string and double keys, so cast everything else (INT, DECIMAL, …)
      // to double. Builders run after children resolve, so dataType is safe.
      val child = exprs.head
      if (child.dataType == StringType) MajorAgg(child)
      else MajorAgg(Cast(child, DoubleType))
    }, "built-in")
  }
}
