package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import graft.functions.{HllFunctions, TextAnalysis}

/** The engine's Catalyst plugin (the `BASELINE.json` north star:
  * "Spark SQL with custom cardinality estimator plugin").
  *
  * Installs on a SparkSession (builder:
  * `.withExtensions(new GraftExtensions)`):
  *
  *  1. SQL surface: `hll_distinct(col[, precision])` — the canonical
  *     estimate over Spark's DataSketches HLL
  *     ([[graft.functions.HllFunctions]]); Spark's own `hll_*`
  *     functions keep their names — plus graft's other functions.
  *  2. Optimizer rule [[ApproxDistinctRewrite]]: when
  *     `spark.graft.approxDistinct.enabled=true`, rewrites exact
  *     `COUNT(DISTINCT x)` into `hll_distinct(x)`. COUNT DISTINCT over
  *     a high-cardinality column is one of the few queries whose cost
  *     explodes at 100 TB (it must shuffle every distinct value); the
  *     sketch answers it with one pass and a register-sized buffer per
  *     group, at ~0.8% error — exactly the trade the reference bakes
  *     into its offline `vocab_size` table (trainer.py:91-118).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("hll_distinct"),
      new ExpressionInfo(HllFunctions.getClass.getName, "hll_distinct"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(c) =>
          HllFunctions.hll_distinct(c, HllFunctions.DefaultPrecision)
        case Seq(c, Literal(p: Int, _)) => HllFunctions.hll_distinct(c, p)
        case _ => throw new IllegalArgumentException(
          "hll_distinct(col[, precision])")
      }))
    // the exact second-moment family: decimal-only (doubles fail at
    // analysis), order-independent, MV-routable via a declared sumsq
    // measure — the variance counterpart of decimal-AVG routing
    Seq(("var_samp_exact", 1, false), ("var_pop_exact", 0, false),
      ("stddev_samp_exact", 1, true), ("stddev_pop_exact", 0, true))
      .foreach { case (name, ddof, asStd) =>
        e.injectFunction((
          new FunctionIdentifier(name),
          new ExpressionInfo(
            classOf[graft.functions.ExactMomentsAgg].getName, name),
          (exprs: Seq[Expression]) => exprs match {
            case Seq(c) => graft.functions.ExactMomentsAgg(c, ddof, asStd)
            case _ => throw new IllegalArgumentException(s"$name(col)")
          }))
      }
    e.injectFunction((
      new FunctionIdentifier("freq_topk"),
      new ExpressionInfo(
        classOf[graft.functions.FreqTopK].getName, "freq_topk"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(c, Literal(k: Int, _)) => graft.functions.FreqTopK(c, k)
        case _ => throw new IllegalArgumentException(
          "freq_topk(col, capacity)")
      }))
    // scalar kernels, so spark.sql() users get the same codegen'd
    // functions the Column API exposes
    def scalar(name: String, clazz: Class[_], arity: Int,
        build: Seq[Expression] => Expression): Unit =
      e.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name),
        (exprs: Seq[Expression]) => {
          require(exprs.length == arity, s"$name takes $arity arguments")
          build(exprs)
        }))
    import graft.functions._
    scalar("dot_product", classOf[DotProduct], 2,
      es => DotProduct(es(0), es(1)))
    scalar("intersect_count_sorted", classOf[IntersectCountSorted], 2,
      es => IntersectCountSorted(es(0), es(1)))
    scalar("intersect_count_at_least", classOf[IntersectCountAtLeast], 3,
      es => IntersectCountAtLeast(es(0), es(1), es(2)))
    scalar("simhash64", classOf[SimHash64], 1, es => SimHash64(es(0)))
    scalar("quantize_i8", classOf[QuantizeI8], 1, es => QuantizeI8(es(0)))
    scalar("dot_product_i8", classOf[DotProductI8], 2,
      es => DotProductI8(es(0), es(1)))
    scalar("poly_fingerprint", classOf[PolyFingerprint], 1,
      es => PolyFingerprint(es(0)))
    scalar("lang_id", classOf[LangIdHeuristic], 1,
      es => LangIdHeuristic(es(0)))
    scalar("bigram_mode_count", classOf[BigramModeCount], 1,
      es => BigramModeCount(es(0)))
    scalar("word_bigrams", classOf[WordBigrams], 1,
      es => WordBigrams(es(0)))
    e.injectFunction((
      new FunctionIdentifier("word_ngram_hashes"),
      new ExpressionInfo(classOf[WordNGramHashes].getName, "word_ngram_hashes"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(t, Literal(n: Int, _)) => WordNGramHashes(t, n)
        case _ => throw new IllegalArgumentException(
          "word_ngram_hashes(text, n)")
      }))
    e.injectFunction((
      new FunctionIdentifier("word_ngram_phashes"),
      new ExpressionInfo(classOf[WordNGramPHashes].getName,
        "word_ngram_phashes"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(t, Literal(n: Int, _)) => WordNGramPHashes(t, n)
        case Seq(t, Literal(n: Int, _), Literal(w: Boolean, _)) =>
          WordNGramPHashes(t, n, w)
        case _ => throw new IllegalArgumentException(
          "word_ngram_phashes(text, n[, wide])")
      }))
    e.injectFunction((
      new FunctionIdentifier("minhash_signature_portable"),
      new ExpressionInfo(classOf[MinHashSignaturePortable].getName,
        "minhash_signature_portable"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(c, Literal(k: Int, _)) => MinHashSignaturePortable(c, k)
        case _ => throw new IllegalArgumentException(
          "minhash_signature_portable(hashes, k)")
      }))
    e.injectFunction((
      new FunctionIdentifier("hll_ndv_portable"),
      new ExpressionInfo(
        classOf[graft.functions.HllPortableNdv].getName,
        "hll_ndv_portable"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(c) => graft.functions.HllPortableNdv(c)
        case Seq(c, Literal(p: Int, _)) =>
          graft.functions.HllPortableNdv(c, p)
        case _ => throw new IllegalArgumentException(
          "hll_ndv_portable(hash[, precision])")
      }))
    e.injectFunction((
      new FunctionIdentifier("kmv_ndv"),
      new ExpressionInfo(
        classOf[graft.functions.KmvNdv].getName, "kmv_ndv"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(c, Literal(k: Int, _)) => graft.functions.KmvNdv(c, k)
        case Seq(c, Literal(k: Int, _), Literal(d: Long, _)) =>
          graft.functions.KmvNdv(c, k, d)
        case Seq(c, Literal(k: Int, _), Literal(d: Int, _)) =>
          graft.functions.KmvNdv(c, k, d.toLong)
        case _ => throw new IllegalArgumentException(
          "kmv_ndv(hash, k[, domain])")
      }))
    // the bottom-k quantile-sketch family (the KMV sibling with a
    // value payload): est = the routable query aggregate, agg = the
    // storable state, union = re-aggregation of stored states
    def numLit(e: Expression, what: String): Double = e match {
      case Literal(d: Double, _) => d
      case Literal(dec: org.apache.spark.sql.types.Decimal, _) =>
        dec.toDouble
      case Literal(i: Int, _) => i.toDouble
      case other => throw new IllegalArgumentException(
        s"$what must be a numeric literal, got $other")
    }
    e.injectFunction((
      new FunctionIdentifier("quantile_sketch_est"),
      new ExpressionInfo(
        classOf[graft.functions.QskQuantile].getName,
        "quantile_sketch_est"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(pri, v, Literal(k: Int, _), pe) =>
          graft.functions.QskQuantile(pri, v, k, numLit(pe, "p"))
        case _ => throw new IllegalArgumentException(
          "quantile_sketch_est(pri, value, k, p)")
      }))
    e.injectFunction((
      new FunctionIdentifier("quantile_sketch_agg"),
      new ExpressionInfo(
        classOf[graft.functions.QskSketchAgg].getName,
        "quantile_sketch_agg"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(pri, v, Literal(k: Int, _)) =>
          graft.functions.QskSketchAgg(pri, v, k)
        case _ => throw new IllegalArgumentException(
          "quantile_sketch_agg(pri, value, k)")
      }))
    e.injectFunction((
      new FunctionIdentifier("quantile_sketch_union"),
      new ExpressionInfo(
        classOf[graft.functions.QskUnion].getName,
        "quantile_sketch_union"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(c, Literal(k: Int, _), pe) =>
          graft.functions.QskUnion(c, k, numLit(pe, "p"))
        case Seq(c, Literal(k: Int, _), pe, Literal(b: Boolean, _)) =>
          graft.functions.QskUnion(c, k, numLit(pe, "p"), b)
        case _ => throw new IllegalArgumentException(
          "quantile_sketch_union(sketch, k, p[, asEstimate])")
      }))
    e.injectFunction((
      new FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[graft.functions.BloomAgg].getName, "bloom_agg"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(c) => graft.functions.BloomAgg(c, 1 << 20, 7)
        case Seq(c, Literal(m: Int, _), Literal(k: Int, _)) =>
          graft.functions.BloomAgg(c, m, k)
        case _ => throw new IllegalArgumentException(
          "bloom_agg(col[, numBits, numHashes])")
      }))
    scalar("bloom_might_contain",
      classOf[graft.functions.BloomMightContain], 2,
      es => graft.functions.BloomMightContain(es(0), es(1)))
    // layout key: composed shift/and arithmetic (no custom Expression
    // class), exposed so SQL users cluster writes the same way the
    // Column API does
    e.injectFunction((
      new FunctionIdentifier("zorder_key"),
      new ExpressionInfo(
        graft.operators.Layout.getClass.getName, "zorder_key"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "zorder_key(x, y)")
        graft.operators.Layout.zorderExpr(exprs(0), exprs(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("topk_rows"),
      new ExpressionInfo(classOf[TopKRows].getName, "topk_rows"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(ord, tie, payload, Literal(k: Int, _)) =>
          TopKRows(ord, tie, payload, k)
        case _ => throw new IllegalArgumentException(
          "topk_rows(ord, tie, payload, k)")
      }))
    // text scoring surface: raw Catalyst trees (like zorder_key — the
    // Column DSL's node wrappers are unevaluable when emitted from a
    // function builder), frozen at the engine's stopword list so SQL
    // and Column users compute the identical gate signals
    def composed(name: String, build: Expression => Expression): Unit =
      e.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(TextAnalysis.getClass.getName, name),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 1, s"$name(text)")
          build(exprs(0))
        }))
    composed("token_count", TextScoringExprs.tokenCount)
    composed("distinct_ratio", TextScoringExprs.distinctRatio)
    composed("stopword_ratio", TextScoringExprs.stopwordRatio)
    composed("quality_score", TextScoringExprs.qualityScore)
    // operations surface for the 100-user warehouse: the MV catalog
    // and the routing explainer as TABLE functions, so `spark.sql`
    // users never need the Scala API —
    //   SELECT * FROM graft_summaries()
    //   SELECT * FROM graft_explain_routing('SELECT …')
    e.injectTableFunction((
      new FunctionIdentifier("graft_summaries"),
      new ExpressionInfo(Summaries.getClass.getName, "graft_summaries"),
      (exprs: Seq[Expression]) => {
        require(exprs.isEmpty, "graft_summaries() takes no arguments")
        GraftSqlSurface.summariesPlan()
      }))
    e.injectTableFunction((
      new FunctionIdentifier("graft_explain_routing"),
      new ExpressionInfo(
        RoutingExplain.getClass.getName, "graft_explain_routing"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(Literal(s: org.apache.spark.unsafe.types.UTF8String,
            org.apache.spark.sql.types.StringType)) =>
          GraftSqlSurface.explainRoutingPlan(s.toString)
        case _ => throw new IllegalArgumentException(
          "graft_explain_routing('<sql query>')")
      }))
    // SQL DDL for the MV lifecycle: CREATE/REFRESH/DROP MATERIALIZED
    // VIEW desugar onto Summaries.create/refreshDelta/drop — the
    // reference workload manages its aggregates in SQL (BigQuery),
    // so the summary subsystem must be operable without Scala
    e.injectParser((_, delegate) => new GraftSqlParser(delegate))
    e.injectOptimizerRule(_ => ApproxDistinctRewrite)
    // the summary-table (materialized-view) router — active only
    // while a summary is registered (Summaries.create), so sessions
    // that never register one pay a no-op conditional
    e.injectOptimizerRule(_ => SummaryRewrite)
  }
}

/** The table-function bodies of the SQL operations surface: each call
  * materializes a [[org.apache.spark.sql.catalyst.plans.logical
  * .LocalRelation]] at analysis time — catalog- and report-sized by
  * construction (one row per registered summary / per explain line),
  * never data-sized, so computing them on the driver is the point,
  * not a compromise.
  */
private[plans] object GraftSqlSurface {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
  import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  def summariesPlan(): LogicalPlan = {
    val out = Seq(
      AttributeReference("name", StringType, nullable = false)(),
      AttributeReference("substrate", StringType, nullable = false)(),
      AttributeReference("grain", StringType, nullable = false)(),
      AttributeReference("gen", IntegerType, nullable = false)(),
      AttributeReference("state", StringType, nullable = false)(),
      AttributeReference("where_sql", StringType, nullable = false)(),
      AttributeReference("measures", StringType, nullable = false)(),
      AttributeReference("n_rows", LongType, nullable = false)(),
      AttributeReference("n_bytes", LongType, nullable = false)(),
      AttributeReference("cube_bytes", LongType, nullable = false)(),
      AttributeReference("cube", StringType, nullable = false)())
    val data = Summaries.statusRows().map { r =>
      InternalRow.fromSeq(Seq(
        UTF8String.fromString(r.name), UTF8String.fromString(r.substrate),
        UTF8String.fromString(r.grain), r.gen,
        UTF8String.fromString(r.state), UTF8String.fromString(r.where),
        UTF8String.fromString(r.measures), r.rows, r.bytes,
        r.cubeBytes, UTF8String.fromString(r.cube)))
    }
    LocalRelation(out, data)
  }

  // the TVF resolves during ANALYSIS of the outer query; an inner SQL
  // that itself calls graft_explain_routing would recurse through
  // spark.sql unboundedly — same thread, so a reentry latch stops it
  // wherever the nested call hides (FROM clause, subquery, CTE)
  private val explainReentry = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  def explainRoutingPlan(sql: String): LogicalPlan = {
    val spark = org.apache.spark.sql.SparkSession.active
    val out = Seq(
      AttributeReference("routing", StringType, nullable = false)())
    def rel(text: String) = LocalRelation(out, text.split("\n").toSeq
      .map(l => InternalRow.fromSeq(Seq(UTF8String.fromString(l)))))
    if (explainReentry.get()) return rel(
      "refused: nested graft_explain_routing calls are not supported")
    // an explain surface must never EXECUTE its argument — but
    // spark.sql() runs command plans (DDL/DML, SET, EXECUTE
    // IMMEDIATE) eagerly during analysis. Parse first and refuse
    // anything that is not a plain query, before the string gets
    // anywhere near execution.
    val parsed =
      try Right(spark.sessionState.sqlParser.parsePlan(sql))
      catch { case scala.util.control.NonFatal(e) =>
        Left(s"explain failed: ${e.getMessage}") }
    val text = parsed match {
      case Left(msg) => msg
      case Right(p) =>
        import org.apache.spark.sql.catalyst.plans.logical.{Command, ParsedStatement}
        val cmd = p.collectFirst {
          case c: Command => c.nodeName
          case c: ParsedStatement => c.nodeName
          case c if c.nodeName.toLowerCase.contains("executeimmediate") =>
            c.nodeName
        }
        // a self-call in the inner SQL (FROM clause or any subquery)
        // would recurse through analysis — refuse it by name here;
        // the thread-local latch above catches the same shape hidden
        // behind a view
        val selfRef = p.collectWithSubqueries {
          case u: org.apache.spark.sql.catalyst.analysis
              .UnresolvedTableValuedFunction
              if u.name.last.equalsIgnoreCase("graft_explain_routing") =>
            u
        }.nonEmpty
        cmd match {
          case Some(n) =>
            s"refused: graft_explain_routing('<sql>') explains plain " +
              s"queries only — a $n is a command and will not be run"
          case None if selfRef =>
            "refused: nested graft_explain_routing calls are not supported"
          case None =>
            explainReentry.set(true)
            try RoutingExplain.explain(spark.sql(sql))
            catch { case scala.util.control.NonFatal(e) =>
              s"explain failed: ${e.getMessage}" }
            finally explainReentry.set(false)
        }
    }
    rel(text)
  }
}

/** The text-scoring formulas as raw Catalyst trees — the same IEEE
  * operation sequence as [[graft.functions.TextAnalysis]]'s Column
  * forms (equivalence is spec-tested), so SQL and Column callers get
  * bit-identical scores. Built directly because a function builder
  * must return an evaluable Expression, and round-tripping a composed
  * Column through the bridge yields unresolvable column nodes.
  */
private[plans] object TextScoringExprs {
  import org.apache.spark.sql.catalyst.expressions._

  private def tokens(t: Expression): Expression =
    StringSplit(t, Literal(" "), Literal(-1))
  private def dbl(e: Expression): Expression =
    Cast(e, org.apache.spark.sql.types.DoubleType)

  def tokenCount(t: Expression): Expression = Size(tokens(t))

  def distinctRatio(t: Expression): Expression = {
    val ws = tokens(t)
    Divide(dbl(Size(ArrayDistinct(ws))), dbl(Size(ws)))
  }

  def stopwordRatio(t: Expression): Expression = {
    val ws = tokens(t)
    val w = UnresolvedNamedLambdaVariable(Seq("w"))
    val hits = ArrayFilter(ws, LambdaFunction(
      In(w, graft.operators.TextQueries.Stopwords
        .map(s => Literal(s)).toSeq), Seq(w)))
    Divide(dbl(Size(hits)), dbl(Size(tokens(t))))
  }

  def qualityScore(t: Expression): Expression = {
    val q = Add(
      Add(
        Multiply(Literal(0.4),
          Least(Seq(Multiply(stopwordRatio(t), Literal(8)), Literal(1.0)))),
        Multiply(Literal(0.3),
          Least(Seq(Divide(dbl(tokenCount(t)), Literal(100)),
            Literal(1.0))))),
      Multiply(Literal(0.3), distinctRatio(t)))
    Divide(Floor(Add(Multiply(q, Literal(10000)), Literal(0.5))),
      Literal(10000))
  }
}

/** Rewrites `COUNT(DISTINCT x)` → `hll_distinct(x)` when
  * `spark.graft.approxDistinct.enabled=true` (default false — exact
  * semantics are the default; the estimator is an opt-in plan
  * transform, like Catalyst's own CBO switches).
  */
object ApproxDistinctRewrite extends Rule[LogicalPlan] {

  val ConfKey = "spark.graft.approxDistinct.enabled"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString(ConfKey, "false").toBoolean) plan
    else plan.transformAllExpressions {
      case ae @ AggregateExpression(Count(Seq(child)), _, true, _, _) =>
        HllFunctions.hll_distinct(child, HllFunctions.DefaultPrecision,
          ae.filter)
    }
}
