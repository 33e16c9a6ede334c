package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Sort}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import graft.functions.HllFunctions

/** The SQL DDL half of the MV lifecycle (the reference workload is
  * SQL-first — its analytics run as BigQuery SQL, notebook cells 7-8
  * of `columnar_estimator_sample`): a delegating session parser that
  * desugars
  *
  *   CREATE MATERIALIZED VIEW <name> AS SELECT …
  *   REFRESH MATERIALIZED VIEW <name>
  *   DROP MATERIALIZED VIEW [IF EXISTS] <name>
  *
  * onto [[Summaries.create]] / [[Summaries.refreshDelta]] /
  * [[Summaries.drop]], and hands every other statement to Spark's own
  * parser untouched. Injected by [[GraftExtensions]] via
  * `injectParser`; the commands are ordinary `RunnableCommand`s, so
  * `spark.sql(…)` executes them with the standard eager-command
  * semantics and returns their status rows.
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    GraftMvDdl.parse(sqlText).getOrElse(delegate.parsePlan(sqlText))

  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(
      sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

private[plans] object GraftMvDdl {
  private val Ident = "[A-Za-z_][A-Za-z0-9_]*"
  private val CreateRe =
    ("(?is)\\s*CREATE\\s+MATERIALIZED\\s+VIEW\\s+(" + Ident +
      ")\\s+AS\\s+(.+)").r
  private val RefreshRe =
    ("(?is)\\s*REFRESH\\s+MATERIALIZED\\s+VIEW\\s+(" + Ident +
      ")\\s*;?\\s*").r
  private val DropRe =
    ("(?is)\\s*DROP\\s+MATERIALIZED\\s+VIEW\\s+(?:(IF\\s+EXISTS)\\s+)?(" +
      Ident + ")\\s*;?\\s*").r
  private val VacuumRe =
    ("(?is)\\s*VACUUM\\s+MATERIALIZED\\s+VIEWS" +
      "(?:\\s+GRACE\\s+(\\d+)\\s+MINUTES?)?\\s*;?\\s*").r
  private val ShowRe =
    "(?is)\\s*SHOW\\s+MATERIALIZED\\s+VIEWS\\s*;?\\s*".r

  def parse(sql: String): Option[LogicalPlan] = sql match {
    case CreateRe(name, query) =>
      Some(CreateMaterializedViewCommand(name,
        query.trim.stripSuffix(";")))
    case RefreshRe(name) => Some(RefreshMaterializedViewCommand(name))
    case DropRe(ifExists, name) =>
      Some(DropMaterializedViewCommand(name, ifExists != null))
    case VacuumRe(mins) =>
      Some(VacuumMaterializedViewsCommand(
        if (mins == null) 10L * 60000L else mins.toLong * 60000L))
    case ShowRe() => Some(ShowMaterializedViewsCommand())
    case _ => None
  }

  private[plans] def statusOutput: Seq[Attribute] = Seq(
    AttributeReference("summary", StringType, nullable = false)(),
    AttributeReference("status", StringType, nullable = false)())
}

/** `CREATE MATERIALIZED VIEW name AS SELECT g…, agg… FROM t [WHERE …]
  * GROUP BY g…` — the SELECT must be a single-table grouped aggregate:
  * grouping columns become the grain, `sum`/`avg` become sum measures
  * (AVG routes through the stored sum + non-null leg), `min`/`max`
  * extremes, `hll_distinct` an HLL sketch measure, `count(*)` is
  * always stored. An optional WHERE becomes the declared
  * filtered-summary predicate (subsumption-gated at read, provability-
  * gated at create, like the Scala API).
  */
case class CreateMaterializedViewCommand(name: String, querySql: String)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftMvDdl.statusOutput

  /** Render an analyzed expression as declared-SQL: the analyzer
    * qualifies attribute references with the source's alias or table
    * name (`tv.x`), but the create-time provability grammar and the
    * routing gates resolve BARE names against the source columns —
    * strip qualifiers before rendering so a temp-view/aliased source
    * declares the same SQL a bare parquet read would.
    */
  private def bareSql(e: Expression): String = e.transform {
    case a: AttributeReference => a.withQualifier(Seq.empty)
  }.sql

  private def unsupported(what: String): Nothing =
    throw new IllegalArgumentException(
      s"CREATE MATERIALIZED VIEW $name: $what — supported measures " +
        "are count(*), sum(expr), avg(expr), min(expr), max(expr), " +
        "hll_distinct(expr) over a single-table GROUP BY of bare " +
        "columns, with an optional WHERE over grain columns")

  override def run(sparkSession: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.GraftColumnBridge.ofPlan
    val analyzed = sparkSession.sql(querySql).queryExecution.analyzed
    val noSort = analyzed match {
      case s: Sort => s.child
      case p => p
    }
    val (grouping, aggExprs, child) = noSort match {
      case Aggregate(g, a, c, _) => (g, a, c)
      case other => unsupported(
        s"the defining query must be a grouped aggregate, got " +
          other.nodeName)
    }
    val grain = grouping.map {
      case a: Attribute => a.name
      case other => unsupported(
        s"GROUP BY expression '${other.sql}' is not a bare column " +
          "(project and alias it in the source table first)")
    }
    val sums = Seq.newBuilder[(String, String)]
    val mins = Seq.newBuilder[(String, String)]
    val maxs = Seq.newBuilder[(String, String)]
    val hlls = Seq.newBuilder[(String, String)]
    var hllPrecision = HllFunctions.DefaultPrecision
    aggExprs.foreach {
      case a: Attribute if grain.contains(a.name) => () // grain column
      case Alias(HllFunctions.Distinct(_, x, p), n) =>
        hlls += n -> bareSql(x)
        hllPrecision = p
      case Alias(ae: AggregateExpression, n) =>
        if (ae.isDistinct) unsupported(
          s"measure '$n' is DISTINCT (use hll_distinct for " +
            "approximate distinct counts)")
        if (ae.filter.isDefined) unsupported(
          s"measure '$n' carries a FILTER clause")
        ae.aggregateFunction match {
          case s: Sum => sums += n -> bareSql(s.child)
          case a: Average => sums += n -> bareSql(a.child)
          case m: Min => mins += n -> bareSql(m.child)
          case m: Max => maxs += n -> bareSql(m.child)
          case c: Count
              if c.children.forall(_.isInstanceOf[Literal]) =>
            () // count(*) is always stored as the grain count
          case c: Count => unsupported(
            s"measure '$n' is count(expr) — count(*) is automatic " +
              "and count(x) routes when x is declared as a sum/avg " +
              "measure")
          case other => unsupported(
            s"measure '$n' uses ${other.prettyName}")
        }
      case other: Alias => unsupported(
        s"projected expression '${other.name}' is not an aggregate")
      case other => unsupported(
        s"projected column '${other.name}' is not in the GROUP BY")
    }
    val (where, src) = child match {
      case Filter(cond, below) => (Some(bareSql(cond)), below)
      case p => (None, p)
    }
    val raw: DataFrame = ofPlan(sparkSession, src)
    val spec = Summaries.create(raw, name, grain,
      sums = sums.result(), mins = mins.result(), maxs = maxs.result(),
      hlls = hlls.result(), hllPrecision = hllPrecision,
      where = where)
    Seq(Row(name,
      s"created over ${spec.source} at grain (${grain.mkString(", ")})" +
        s" — ${spec.rows} rows, ${spec.bytes} bytes, generation " +
        s"${spec.gen}" +
        (if (spec.cubeNote.nonEmpty) s"; cube ${spec.cubeNote}" else "")))
  }
}

/** `REFRESH MATERIALIZED VIEW name` — [[Summaries.refreshDelta]]: the
  * one-call detect-and-fold. Fresh summaries report as such; drift
  * beyond what a fold can absorb throws the same descriptive error
  * the Scala API does.
  */
case class RefreshMaterializedViewCommand(name: String)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftMvDdl.statusOutput

  override def run(sparkSession: SparkSession): Seq[Row] =
    Summaries.refreshDelta(name) match {
      case Some(spec) =>
        Seq(Row(name, s"folded to generation ${spec.gen}"))
      case None => Seq(Row(name, "fresh (nothing to fold)"))
    }
}

/** `VACUUM MATERIALIZED VIEWS [GRACE n MINUTES]` —
  * [[Summaries.gcOrphans]]: sweep generation directories no spec
  * references (crash debris between a generation write and its
  * persist). The SQL default grace is 10 minutes — generous against
  * another engine's in-flight fold on the shared warehouse; `GRACE 0
  * MINUTES` is the strict sweep.
  */
case class VacuumMaterializedViewsCommand(graceMs: Long)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftMvDdl.statusOutput

  override def run(sparkSession: SparkSession): Seq[Row] = {
    val swept = Summaries.gcOrphans(graceMs)
    if (swept.isEmpty) Seq(Row("(none)", "no orphan generations"))
    else swept.map(p => Row(new java.io.File(p).getName, s"swept: $p"))
  }
}

/** `SHOW MATERIALIZED VIEWS` — the catalog listing as a command, one
  * row per registered summary with the same columns as the
  * `graft_summaries()` TVF (name, substrate, grain, gen, state,
  * where_sql, measures, n_rows, n_bytes, cube_bytes, cube). The TVF
  * composes into queries; SHOW is the operator's one-liner.
  */
case class ShowMaterializedViewsCommand()
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    Seq(
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
  }

  override def run(sparkSession: SparkSession): Seq[Row] =
    Summaries.statusRows().map(r => Row(r.name, r.substrate, r.grain,
      r.gen, r.state, r.where, r.measures, r.rows, r.bytes,
      r.cubeBytes, r.cube))
}

/** `DROP MATERIALIZED VIEW [IF EXISTS] name` — [[Summaries.drop]]. */
case class DropMaterializedViewCommand(name: String, ifExists: Boolean)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftMvDdl.statusOutput

  override def run(sparkSession: SparkSession): Seq[Row] = {
    if (!Summaries.isRegistered(name)) {
      if (ifExists) return Seq(Row(name, "not registered (ignored)"))
      throw new IllegalArgumentException(s"no summary named $name")
    }
    Summaries.drop(name)
    Seq(Row(name, "dropped"))
  }
}
