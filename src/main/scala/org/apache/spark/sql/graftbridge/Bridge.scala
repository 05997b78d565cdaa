package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ClassicConversions, ExpressionUtils}

/** Bridge into `private[sql]` helpers (the standard extension-library
  * pattern: Column ⇄ catalyst Expression plus function-registry access). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** Fully convert a Column's node tree into catalyst expressions (the
    * analyzer can resolve these; the lazy ColumnNodeExpression wrapper from
    * `expression` cannot be used inside a function-registry builder). */
  def toCatalyst(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)
  def functionRegistry(spark: SparkSession): FunctionRegistry =
    ClassicConversions.castToImpl(spark).sessionState.functionRegistry

  /** Rebuild `df` as a flat scan over its own execution RDD — logical-plan
    * truncation WITHOUT the Row-conversion round-trip `createDataFrame(df
    * .rdd, schema)` pays (toRdd yields InternalRows directly). The RDD
    * lineage is preserved, so eviction recomputes through the original
    * plan — unlike localCheckpoint, which trades lineage away. Used by
    * iterative operators whose per-sweep self-composition would otherwise
    * grow the logical plan exponentially. */
  def truncatePlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val classic = ClassicConversions.castToImpl(df.sparkSession)
    classic.internalCreateDataFrame(
      ClassicConversions.castToImpl(df).queryExecution.toRdd, df.schema)
  }

  /** [[truncatePlan]] KEEPING the physical layout metadata: the flat
    * LogicalRDD records the executed plan's outputPartitioning and
    * outputOrdering (attribute-rewritten onto the new output), so a
    * persisted truncated frame still satisfies downstream exchange/sort
    * requirements — plain truncation erases both and every consumer
    * re-shuffles and re-sorts data that is already laid out (ADVICE r16:
    * representatives() had to give up truncation entirely to keep its
    * layout, re-embedding the whole upstream plan per sweep). Built on
    * Spark's own LogicalRDD.fromDataset (the Dataset.checkpoint path). */
  def truncatePlanKeepLayout(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val classic = ClassicConversions.castToImpl(df)
    val rdd = classic.queryExecution.toRdd
    val lr = org.apache.spark.sql.execution.LogicalRDD
      .fromDataset(rdd, classic, isStreaming = false)
    org.apache.spark.sql.classic.Dataset.ofRows(
      ClassicConversions.castToImpl(df.sparkSession), lr)
  }

  /** `df` as a flat frame over a persisted copy of its execution rows, and
    * the RDD that holds them (the caller unpersists it). The first action on
    * the frame fills the cache; later ones read it instead of re-running
    * `df`'s plan. Rows are cached as they come out of the executed plan
    * (not a columnar InMemoryRelation), and the lineage stays, so an
    * evicted or released block recomputes through `df`'s plan. The plan is
    * prepared by [[onRdd]], under `df`'s session confs; under AQE that
    * runs `df`'s exchanges (broadcasts, shuffles) here, not in the first
    * action. */
  def persistRows(df: org.apache.spark.sql.DataFrame,
                  level: org.apache.spark.storage.StorageLevel)
      : (org.apache.spark.sql.DataFrame,
         org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]) = {
    val rows = onRdd(df)(_.map(_.copy()).setName("graft shared rows").persist(level))
    (ClassicConversions.castToImpl(df.sparkSession).internalCreateDataFrame(rows, df.schema),
     rows)
  }

  /** The summed size estimates of the leaves of `df`'s optimized plan: the
    * listed bytes of a file scan, the rows of a local relation. A leaf
    * without an estimate (an RDD scan) counts the session's default size,
    * `Long.MaxValue` unless configured. */
  def inputBytes(df: org.apache.spark.sql.DataFrame): BigInt =
    ClassicConversions.castToImpl(df).queryExecution.optimizedPlan
      .collectLeaves().map(_.stats.sizeInBytes).sum

  /** `spark.read.json(records.toDS())` (or `.schema(s)` first when
    * `schema` is given) parsed on the driver into a local relation: the same
    * schema handling and the same record parser (JacksonParser under
    * FailureSafeParser) that the reader runs per partition, without the SQL
    * execution the reader's `Dataset.rdd` opens. Only a missing schema
    * starts work (the reader's inference job). */
  def jsonLiteral(spark: SparkSession, records: Seq[String],
                  schema: Option[org.apache.spark.sql.types.StructType])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JacksonParser}
    import org.apache.spark.sql.catalyst.util.FailureSafeParser
    import org.apache.spark.sql.internal.SQLConf
    import org.apache.spark.sql.types.StructType
    val session = ClassicConversions.castToImpl(spark)
    val conf = session.sessionState.conf
    val options = new JSONOptions(Map.empty[String, String], conf.sessionLocalTimeZone,
      conf.columnNameOfCorruptRecord)
    val full = schema.map { s =>
      org.apache.spark.sql.execution.datasources.json.JsonUtils.checkJsonSchema(s)
      if (conf.getConf(SQLConf.LEGACY_RESPECT_NULLABILITY_IN_TEXT_DATASET_CONVERSION)) s
      else s.asNullable
    }.getOrElse(org.apache.spark.sql.execution.datasources.json.TextInputJsonDataSource
      .inferFromDataset(session.createDataset(records)(org.apache.spark.sql.Encoders.STRING),
        options))
    org.apache.spark.sql.catalyst.expressions.ExprUtils
      .verifyColumnNameOfCorruptRecord(full, options.columnNameOfCorruptRecord)
    val raw = new JacksonParser(
      StructType(full.filterNot(_.name == options.columnNameOfCorruptRecord)),
      options, allowArrayAsStructs = true)
    val parser = new FailureSafeParser[String](
      raw.parse(_, CreateJacksonParser.string _,
        org.apache.spark.unsafe.types.UTF8String.fromString),
      options.parseMode, full, options.columnNameOfCorruptRecord)
    val rows = records.flatMap(r => parser.parse(r).map(_.copy())).toVector
    org.apache.spark.sql.classic.Dataset.ofRows(session,
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(full), rows))
  }

  /** Run `action` over the raw execution RDD of `df` (InternalRows): an
    * iterative operator runs its per-sweep convergence scan over a
    * persisted state as ONE RDD job instead of paying a second full
    * QueryExecution (analyze + optimize + codegen of an aggregate plan)
    * per sweep. The job runs under `df`'s session confs: outside a SQL
    * execution Spark hands them only to the final stage's plan, so the
    * tasks of every shuffle-map stage below it would read the DEFAULT
    * confs (and lose, e.g., a loop session's interpreted expressions). */
  def onRdd[T](df: org.apache.spark.sql.DataFrame)
      (action: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] => T): T = {
    val classic = ClassicConversions.castToImpl(df)
    org.apache.spark.sql.execution.SQLExecution.withSQLConfPropagated(
      classic.sparkSession)(action(classic.queryExecution.toRdd))
  }

  /** Release the block-manager storage behind a localCheckpoint'd frame
    * (Dataset.unpersist only covers CacheManager entries; a local
    * checkpoint persists its RDD directly). Call ONLY when the frame is
    * fully consumed — the checkpoint's lineage is truncated, so the data
    * cannot be recomputed afterwards. */
  def releaseLocalCheckpoint(df: org.apache.spark.sql.DataFrame,
                             blocking: Boolean = false): Unit =
    ClassicConversions.castToImpl(df).queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking)
      case _ => ()
    }

  /** Block until every queued SparkListener event has been delivered —
    * the deterministic replacement for the listener specs' Thread.sleep
    * drains (ADVICE r14: a fixed sleep under-counts task metrics on a
    * loaded machine and flakes threshold assertions). `listenerBus` is
    * `private[spark]`, hence the bridge. */
  def drainListenerBus(spark: SparkSession, timeoutMillis: Long = 30000L): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMillis)

  /** A clone of `spark` (same SparkContext, SharedState — so the cache
    * manager, catalog and temp views carry over) with the given runtime
    * confs overridden. The conf-mutation-free way for an iterative
    * operator to right-size ITS OWN shuffle width (or disable AQE for a
    * fixed small loop) without racing concurrent queries on the caller's
    * session — the defect ADVICE r12 flagged in the session-global conf
    * flip representatives() used. */
  def sessionWithConf(spark: SparkSession,
                      confs: Map[String, String]): SparkSession = {
    val c = ClassicConversions.castToImpl(spark).cloneSession()
    confs.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }

  /** The file listing and data schema of `df` when `df` is one file-source
    * read (`spark.read...json(path)`). The listing is the one every scan
    * of `df` reads: the index lists once, when the frame is built. None
    * for any other plan, and when a partition column also appears in the
    * files (a read given that data schema would move the column to the
    * end, where inference keeps it in place). */
  def fileScan(df: org.apache.spark.sql.DataFrame)
      : Option[(Seq[org.apache.hadoop.fs.FileStatus], org.apache.spark.sql.types.StructType)] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
    ClassicConversions.castToImpl(df).queryExecution.analyzed match {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation if r.overlappedPartCols.isEmpty => r.location match {
          case index: PartitioningAwareFileIndex => Some((index.allFiles(), r.dataSchema))
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }
  }

  /** The formatted explain text as a string (Dataset.explain only prints)
    * — for the plan-dump evidence files. */
  def explainFormatted(df: org.apache.spark.sql.DataFrame): String =
    ClassicConversions.castToImpl(df).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** Rebind `df`'s logical plan to another session of the same context:
    * operations and actions on the result plan/execute under `spark`'s
    * conf. Persisted data is shared (one CacheManager per SharedState),
    * so a frame persisted in one session is a cache hit in the other. */
  def rebind(df: org.apache.spark.sql.DataFrame,
             spark: SparkSession): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      ClassicConversions.castToImpl(spark),
      ClassicConversions.castToImpl(df).queryExecution.logical)
}
