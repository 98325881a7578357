package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` Column↔Expression converters so
  * graft's custom Catalyst expressions (e.g. `graft.functions
  * .PolyCharFold`) can be used through the public Column API. This is
  * the conventional packaging trick for third-party Catalyst extensions
  * that don't want to route every call through a registered SQL
  * function.
  */
object GraftBridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER Column → Catalyst conversion. [[toExpression]] returns a
    * lazy `ColumnNodeExpression` wrapper whose Catalyst tree only
    * materializes at analysis — tree inspection (e.g. "does this
    * clause reference a source column?") needs the converted tree NOW.
    */
  def toCatalystEager(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Parquet's schema-merge fold (`StructType.merge` is `private[sql]`)
    * — the same left fold `mergeSchema` inference runs over footers:
    * left fields keep their order, new right fields append, nested
    * types merge recursively, incompatible types throw.
    */
  def mergeSchemas(a: types.StructType, b: types.StructType,
      caseSensitive: Boolean): types.StructType = a.merge(b, caseSensitive)

  /** Wrap a resolved logical plan as a DataFrame (`Dataset.ofRows` is
    * `private[sql]`) — the SQL-DML rule's way of handing a MERGE
    * statement's source plan to the TxTable clause engine.
    */
  def dataFrame(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Dataset[Row] =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The CatalogTable behind a V2 `Table` handle when it is the
    * session catalog's V1 passthrough (`V1Table` is `private[sql]`):
    * how the SQL-DML rule recognizes a catalog-registered graft-tx
    * relation inside a DSv2 DML plan.
    */
  def v1CatalogTable(table: org.apache.spark.sql.connector.catalog.Table):
      Option[org.apache.spark.sql.catalyst.catalog.CatalogTable] = table match {
    case v1: org.apache.spark.sql.connector.catalog.V1Table => Some(v1.v1Table)
    case _ => None
  }

  /** Imperative function registration on an already-built session (the
    * extensions route in `graft.functions.GraftExtensions` covers
    * sessions built with `.withExtensions`).
    */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Re-tags a batch DataFrame as a STREAMING one (isStreaming=true)
    * — what a DSv1 `Source.getBatch` must return so the micro-batch
    * planner accepts it. This is exactly Spark's own FileStreamSource
    * device (`internalCreateDataFrame(df.queryExecution.toRdd, schema,
    * isStreaming = true)`), reachable only from this package.
    */
  def streamingDataFrame(df: Dataset[Row]): Dataset[Row] = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = true)
  }

  /** Re-bases a DSv1 `Sink.addBatch` Dataset onto a plain batch plan.
    * The Dataset handed to addBatch is a view over the micro-batch's
    * already-planned IncrementalExecution; writing it through a new
    * action must not re-plan the streaming query, so the rows are
    * copied out of the incremental plan (InternalRow buffers are
    * reused — the copy is mandatory) and wrapped as a fresh batch
    * DataFrame. Same device as Spark's own memory/console sinks.
    */
  def rebasedBatchDataFrame(df: Dataset[Row]): Dataset[Row] = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val rows = ds.queryExecution.toRdd.map(_.copy())
    ds.sparkSession.internalCreateDataFrame(rows, ds.schema, isStreaming = false)
  }

  /** Minimal Catalyst→data-source filter translation for the
    * predicate-mutation pruning path (`DataSourceStrategy
    * .translateFilter` is `protected`, so third-party code re-derives
    * the public shapes): splits top-level conjuncts and translates
    * attribute-vs-literal comparisons, null tests, IN, and nested
    * AND/OR. Anything else — casts, expressions over the column,
    * subquery shapes — yields nothing for that conjunct, which the
    * stats pruner treats as keep-everything (conservative, never
    * wrong).
    */
  def translateConjuncts(cond: Expression): Seq[sources.Filter] = {
    import org.apache.spark.sql.catalyst.expressions._
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other     => Seq(other)
    }
    def toScala(v: Any, dt: org.apache.spark.sql.types.DataType): Any =
      org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala(v, dt)
    def t(e: Expression): Option[sources.Filter] = e match {
      case EqualTo(a: Attribute, Literal(v, dt)) =>
        Some(sources.EqualTo(a.name, toScala(v, dt)))
      case EqualTo(Literal(v, dt), a: Attribute) =>
        Some(sources.EqualTo(a.name, toScala(v, dt)))
      case EqualNullSafe(a: Attribute, Literal(v, dt)) =>
        Some(sources.EqualNullSafe(a.name, toScala(v, dt)))
      case EqualNullSafe(Literal(v, dt), a: Attribute) =>
        Some(sources.EqualNullSafe(a.name, toScala(v, dt)))
      case GreaterThan(a: Attribute, Literal(v, dt)) =>
        Some(sources.GreaterThan(a.name, toScala(v, dt)))
      case GreaterThan(Literal(v, dt), a: Attribute) =>
        Some(sources.LessThan(a.name, toScala(v, dt)))
      case GreaterThanOrEqual(a: Attribute, Literal(v, dt)) =>
        Some(sources.GreaterThanOrEqual(a.name, toScala(v, dt)))
      case GreaterThanOrEqual(Literal(v, dt), a: Attribute) =>
        Some(sources.LessThanOrEqual(a.name, toScala(v, dt)))
      case LessThan(a: Attribute, Literal(v, dt)) =>
        Some(sources.LessThan(a.name, toScala(v, dt)))
      case LessThan(Literal(v, dt), a: Attribute) =>
        Some(sources.GreaterThan(a.name, toScala(v, dt)))
      case LessThanOrEqual(a: Attribute, Literal(v, dt)) =>
        Some(sources.LessThanOrEqual(a.name, toScala(v, dt)))
      case LessThanOrEqual(Literal(v, dt), a: Attribute) =>
        Some(sources.GreaterThanOrEqual(a.name, toScala(v, dt)))
      case InSet(a: Attribute, set) =>
        Some(sources.In(a.name, set.toArray.map(toScala(_, a.dataType))))
      case In(a: Attribute, list) if list.forall(_.isInstanceOf[Literal]) =>
        Some(sources.In(a.name,
          list.map { case Literal(v, dt) => toScala(v, dt) }.toArray))
      case IsNull(a: Attribute)    => Some(sources.IsNull(a.name))
      case IsNotNull(a: Attribute) => Some(sources.IsNotNull(a.name))
      case And(l, r) => for { lf <- t(l); rf <- t(r) } yield sources.And(lf, rf)
      case Or(l, r)  => for { lf <- t(l); rf <- t(r) } yield sources.Or(lf, rf)
      case _ => None
    }
    split(cond).flatMap(t(_))
  }
}
