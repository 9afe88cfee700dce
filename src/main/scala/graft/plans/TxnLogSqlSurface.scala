package graft.plans

import graft.sources.{TxnLog, TxnLogHadoopFsRelation,
  TxnLogParquetFileFormat}
import org.apache.spark.sql.{AnalysisException, GraftShim, Row,
  SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel,
  UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute,
  AttributeReference, Cast, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment,
  DeleteAction, DeleteFromTable, InsertAction, InsertStarAction,
  LogicalPlan, MergeAction, MergeIntoTable, SubqueryAlias, UpdateAction,
  UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{StringType, TimestampType}

/** The pure-SQL surfaces of the txnlog table format that need an
  * analyzer hook — Spark's parser already produces the right logical
  * nodes ([[RelationTimeTravel]] for `VERSION AS OF` / `TIMESTAMP AS
  * OF`, [[MergeIntoTable]] for `MERGE INTO`), but its built-in
  * resolution only serves DSv2 catalogs; these rules claim the nodes
  * whose target bottoms out in a txnlog relation and map them onto the
  * format's existing entry points (the `version`/`timestampAsOf` read
  * options and [[TxnLog.upsert]]'s file-pruned transactional merge).
  * Non-txnlog targets pass through untouched for Spark's own handling.
  *
  * Reference anchors: the reference's DML is literal SQL MERGE
  * (`src/etl/sql/bigquery_dml__upsert_company.sql:7-27`) and its Delta
  * reads use Delta's SQL time-travel syntax; this is that surface for
  * the txnlog format. Registered via [[graft.GraftExtensions]]
  * (`spark.sql.extensions`).
  */
object TxnLogSqlSurface {

  /** The table directory of a plan that bottoms out in a txnlog
    * relation (temp view bodies, catalog-table reads). */
  private[graft] def pathOf(plan: LogicalPlan): Option[String] =
    plan.collectFirst {
      case lr: LogicalRelation => lr.relation match {
        case r: TxnLogHadoopFsRelation => Some(r.tableDir)
        case _ => None
      }
    }.flatten

  /** Target-table path of a DML statement's (pre-resolution) target
    * plan: an unresolved identifier looked up in the session catalog,
    * an alias unwrapped, or an already-resolved txnlog relation. */
  private[graft] def targetPath(spark: SparkSession,
                                t: LogicalPlan): Option[String] = t match {
    case u: UnresolvedRelation => lookupPath(spark, u.multipartIdentifier)
    case SubqueryAlias(_, child) => targetPath(spark, child)
    case resolved if resolved.resolved => pathOf(resolved)
    case _ => None
  }

  /** The catalog name a DML statement addressed its target by (None
    * for an already-resolved plan): after a commit that changes the
    * relation's pinned shape (a first DV, a column-mapping change),
    * the command refreshes this name so the CACHED catalog relation
    * re-resolves instead of refusing with the stale-view error. */
  private[graft] def targetName(t: LogicalPlan): Option[String] = t match {
    case u: UnresolvedRelation => Some(u.multipartIdentifier.mkString("."))
    case SubqueryAlias(_, child) => targetName(child)
    case _ => None
  }

  /** Refresh a DML target's cached catalog relation, tolerating names
    * that vanished mid-statement (DROP TABLE race). */
  private[graft] def refreshQuietly(session: SparkSession,
                                    name: Option[String]): Unit =
    name.foreach(n =>
      try session.catalog.refreshTable(n)
      catch { case scala.util.control.NonFatal(_) => () })

  /** Strip alias qualifiers off unresolved attribute references (the
    * DML predicates/assignments run against the table's own snapshot
    * DataFrame, where `t.price` has no alias to resolve against). */
  private[graft] def unqualify(e: Expression): Expression = e.transform {
    case u: UnresolvedAttribute if u.nameParts.length > 1 =>
      UnresolvedAttribute(Seq(u.nameParts.last))
  }

  /** Resolve a (possibly unresolved) relation identifier to a txnlog
    * table directory: a session temp view whose body reads the format,
    * or a catalog table whose provider is `txnlog`. None = not ours. */
  private[graft] def lookupPath(spark: SparkSession,
                                parts: Seq[String]): Option[String] = {
    val catalog = spark.sessionState.catalog
    val viaTempView =
      if (parts.length == 1) catalog.getTempView(parts.head).flatMap(pathOf)
      else None
    viaTempView.orElse {
      val ti = parts match {
        case Seq(t) => Some(TableIdentifier(t))
        case Seq(db, t) => Some(TableIdentifier(t, Some(db)))
        case _ => None
      }
      ti.filter(catalog.tableExists).flatMap { id =>
        val meta = catalog.getTableMetadata(id)
        if (meta.provider.exists(_.equalsIgnoreCase("txnlog")))
          meta.storage.locationUri
            .map(u => new org.apache.hadoop.fs.Path(u).toString)
        else None
      }
    }
  }
}

/** `SELECT … FROM t VERSION AS OF 3` / `TIMESTAMP AS OF '…'` for
  * txnlog temp views and catalog tables: the parser's
  * [[RelationTimeTravel]] node is resolved into a PINNED relation via
  * the same `version`/`timestampAsOf` options every reader uses — one
  * code path for time travel whether it arrives programmatically or as
  * SQL. */
case class TxnLogTimeTravelRule(spark: SparkSession)
    extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case tt @ RelationTimeTravel(u: UnresolvedRelation, ts, ver) =>
        TxnLogSqlSurface.lookupPath(spark, u.multipartIdentifier) match {
          case None => tt // not a txnlog table: Spark's own resolution
          case Some(path) =>
            val rd = spark.read.format("txnlog").option("path", path)
            val pinned = (ver, ts) match {
              case (Some(v), _) => rd.option("version", v.trim)
              case (None, Some(expr)) =>
                rd.option("timestampAsOf", timestampString(expr))
              case (None, None) => rd
            }
            GraftShim.logicalPlan(pinned.load())
        }
    }

  /** Render the AS OF timestamp expression for the read option: string
    * literals pass through (the option parser accepts Delta's lenient
    * forms), timestamp-typed foldables become epoch millis. */
  private def timestampString(e: Expression): String = e match {
    case Literal(v, StringType) => String.valueOf(v)
    case other if other.foldable =>
      val tsVal = Cast(other, TimestampType,
        Some(spark.sessionState.conf.sessionLocalTimeZone)).eval(null)
      if (tsVal == null) throw new AnalysisException(
        errorClass = "_LEGACY_ERROR_TEMP_3100",
        messageParameters = Map("message" ->
          s"TIMESTAMP AS OF: cannot evaluate $other as a timestamp"))
      (tsVal.asInstanceOf[Long] / 1000L).toString // micros → millis
    case other => throw new AnalysisException(
      errorClass = "_LEGACY_ERROR_TEMP_3100",
      messageParameters = Map("message" ->
        s"TIMESTAMP AS OF requires a constant expression, got $other"))
  }
}

/** SQL `MERGE INTO` against a txnlog view or catalog table — the FULL
  * clause surface: `WHEN MATCHED [AND cond] THEN UPDATE SET
  * star-or-assignments | DELETE`, multiple clauses in order, `WHEN NOT
  * MATCHED [AND cond] THEN INSERT star-or-(cols) VALUES (...)`, and
  * `WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE/DELETE`. The
  * canonical
  * update-all/insert-all shape maps onto [[TxnLog.upsert]] (the fast
  * path: schema evolution, partition-conflict retry); everything else
  * compiles onto [[TxnLog.merge]]'s clause engine — both get the same
  * transactional, stats/bloom FILE-PRUNED rewrite and row-level CDF
  * journaling as the programmatic calls. Clause expressions are
  * re-qualified at analysis time (target alias → `__t` struct refs,
  * source alias → `__s`; unqualified names resolve by schema
  * membership at run time, insert clauses source-first). The reference
  * anchor is its own RECENCY-GUARDED production merge
  * (`src/etl/sql/bigquery_dml__upsert_daily_stock_price.sql:10-16`),
  * now expressible as literal SQL. */
case class TxnLogMergeRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case m: MergeIntoTable =>
        // this runs pre-resolution (Hints batch): recover the target's
        // identifier textually and ask the session catalog whether it
        // is a txnlog view/table; the already-resolved form is also
        // accepted for programmatic plans
        targetPath(m.targetTable) match {
          case None => m // not ours: Spark's v2 row-level path
          case Some(path) => rewrite(m, path)
        }
    }

  private def targetPath(t: LogicalPlan): Option[String] =
    TxnLogSqlSurface.targetPath(spark, t)

  private def fail(msg: String): Nothing =
    throw new AnalysisException(
      errorClass = "_LEGACY_ERROR_TEMP_3100",
      messageParameters = Map("message" -> (s"txnlog MERGE INTO: $msg " +
        "(supported: ON conjunctive equality of same-named key columns; " +
        "WHEN MATCHED [AND cond] THEN UPDATE SET */assignments | DELETE; " +
        "WHEN NOT MATCHED [AND cond] THEN INSERT */(cols) VALUES; " +
        "WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE/DELETE)")))

  private def nameOf(e: Expression): Option[String] = e match {
    case u: UnresolvedAttribute => Some(u.nameParts.last)
    case a: AttributeReference => Some(a.name)
    case _ => None
  }

  /** ON-clause key pairs as (target column, source column). Sides are
    * decided by alias qualification; an UNQUALIFIED equality is
    * accepted only when both names agree (either assignment of sides
    * is then equivalent). Differently-named unqualified pairs must be
    * qualified — the rule cannot know the schemas yet. */
  private def keyPairsOf(cond: Expression, tq: Set[String],
                         sq: Set[String]): Seq[(String, String)] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    def sideOf(e: Expression): Option[(Char, String)] = e match {
      case u: UnresolvedAttribute =>
        val parts = u.nameParts
        val q = parts.init.mkString(".").toLowerCase
        if (parts.length >= 2 && tq.contains(q)) Some(('t', parts.last))
        else if (parts.length >= 2 && sq.contains(q))
          Some(('s', parts.last))
        else if (parts.length == 1) Some(('?', parts.head))
        else None
      case a: AttributeReference => Some(('?', a.name))
      case _ => None
    }
    conjuncts(cond).map {
      case EqualTo(a, b) =>
        (sideOf(a), sideOf(b)) match {
          case (Some(('t', tn)), Some(('s', sn))) => (tn, sn)
          case (Some(('s', sn)), Some(('t', tn))) => (tn, sn)
          case (Some((_, an)), Some((_, bn))) if an == bn => (an, bn)
          case _ => fail("ON clause must equate a target key with a " +
            s"source key (qualify differently-named columns), got " +
            EqualTo(a, b).sql)
        }
      case other => fail(s"ON clause must be a conjunction of " +
        s"equalities, got ${other.sql}")
    }
  }

  /** SET * / INSERT * — either still a star action, or already
    * expanded by the analyzer into name-aligned column assignments. */
  private def isStarLike(a: org.apache.spark.sql.catalyst.plans.logical
      .MergeAction): Boolean = a match {
    case UpdateStarAction(None) | InsertStarAction(None) => true
    case UpdateAction(None, assigns, _) => assignsAligned(assigns)
    case InsertAction(None, assigns) => assignsAligned(assigns)
    case _ => false
  }
  private def assignsAligned(assigns: Seq[Assignment]): Boolean =
    assigns.forall(a => (nameOf(a.key), nameOf(a.value)) match {
      case (Some(k), Some(v)) => k == v
      case _ => false
    })

  /** The qualifiers a side of the MERGE can be addressed by in clause
    * expressions: its SQL alias when present (the alias SHADOWS the
    * underlying name), else the relation identifier's last part and
    * full dotted form. */
  private def qualsOf(p: LogicalPlan): Set[String] = p match {
    case SubqueryAlias(ident, _) => Set(ident.name.toLowerCase)
    case u: UnresolvedRelation =>
      Set(u.multipartIdentifier.last.toLowerCase,
        u.multipartIdentifier.mkString(".").toLowerCase)
    case _ => Set.empty
  }

  /** Re-qualify clause expressions for the joined-row layout
    * [[TxnLog.merge]] evaluates against: target-alias refs become
    * `__t.<col>` struct accesses, source-alias refs `__s.<col>`;
    * unqualified single-part names are left for the command's runtime
    * schema-membership resolution. */
  private def sideQualify(e: Expression, tq: Set[String],
                          sq: Set[String]): Expression = e.transformUp {
    case u: UnresolvedAttribute if u.nameParts.length >= 2 =>
      val parts = u.nameParts
      val head = parts.head.toLowerCase
      val allButLast = parts.init.mkString(".").toLowerCase
      if (tq.contains(allButLast))
        UnresolvedAttribute(Seq("__t", parts.last))
      else if (sq.contains(allButLast))
        UnresolvedAttribute(Seq("__s", parts.last))
      else if (tq.contains(head)) UnresolvedAttribute("__t" +: parts.tail)
      else if (sq.contains(head)) UnresolvedAttribute("__s" +: parts.tail)
      else u
  }

  private def assignName(k: Expression): String = k match {
    case ua: UnresolvedAttribute => ua.nameParts.last
    case ar: AttributeReference => ar.name
    case other =>
      fail(s"cannot SET $other — assignments must target plain columns")
  }

  private def rewrite(m: MergeIntoTable, path: String): LogicalPlan = {
    val tq = qualsOf(m.targetTable)
    val sq = qualsOf(m.sourceTable)
    val pairs = keyPairsOf(m.mergeCondition, tq, sq)
    if (pairs.isEmpty) fail("no key equality in ON clause")
    val canonical = m.notMatchedBySourceActions.isEmpty &&
      m.matchedActions.length == 1 && isStarLike(m.matchedActions.head) &&
      m.notMatchedActions.length == 1 &&
      isStarLike(m.notMatchedActions.head) &&
      pairs.forall { case (tn, sn) => tn == sn }
    if (canonical)
      // the reference's exact upsert DML: keep the dedicated fast path
      // (schema evolution, partition-conflict retry) — TxnLog.upsert
      TxnLogMergeCommand(path, m.sourceTable, pairs.map(_._1),
        withSchemaEvolution = m.withSchemaEvolution)
    else {
      def box(e: Expression): ExprBox = ExprBox(sideQualify(e, tq, sq))
      def specOf(a: MergeAction): TxnLogMergeClauseSpec = a match {
        case UpdateStarAction(cond) =>
          TxnLogMergeClauseSpec(cond.map(box), isDelete = false,
            isStar = true, Nil)
        case InsertStarAction(cond) =>
          TxnLogMergeClauseSpec(cond.map(box), isDelete = false,
            isStar = true, Nil)
        case DeleteAction(cond) =>
          TxnLogMergeClauseSpec(cond.map(box), isDelete = true,
            isStar = false, Nil)
        case UpdateAction(cond, assigns, _) =>
          TxnLogMergeClauseSpec(cond.map(box), isDelete = false,
            isStar = false,
            assigns.map(a => assignName(a.key) -> box(a.value)))
        case InsertAction(cond, assigns) =>
          TxnLogMergeClauseSpec(cond.map(box), isDelete = false,
            isStar = false,
            assigns.map(a => assignName(a.key) -> box(a.value)))
        case other => fail(s"unsupported MERGE clause: $other")
      }
      TxnLogGeneralMergeCommand(path, m.sourceTable,
        pairs.map(_._1), pairs.map(_._2),
        m.matchedActions.map(specOf), m.notMatchedActions.map(specOf),
        m.notMatchedBySourceActions.map(specOf),
        TxnLogSqlSurface.targetName(m.targetTable),
        withSchemaEvolution = m.withSchemaEvolution)
    }
  }
}

/** SQL `DELETE FROM` / `UPDATE` over txnlog views and catalog tables —
  * the remaining row-level DML next to MERGE, claimed in the Hints
  * batch like [[TxnLogMergeRule]] (Spark's own analysis refuses v1
  * row-level DML by throwing) and mapped onto the format's own
  * operators: DELETE → [[TxnLog.deleteWhereDV]] (merge-on-read, ZERO
  * files rewritten — the 100 TB default, exactly Delta-with-DVs'
  * SQL DELETE), UPDATE → [[TxnLog.updateWhere]] (copy-on-write with
  * update_pre/post CDF journaling). Non-txnlog targets pass through. */
case class TxnLogDmlRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case d: DeleteFromTable =>
        TxnLogSqlSurface.targetPath(spark, d.table) match {
          case None => d
          case Some(path) => TxnLogDeleteCommand(path,
            ExprBox(TxnLogSqlSurface.unqualify(d.condition)),
            TxnLogSqlSurface.targetName(d.table))
        }
      case u: UpdateTable =>
        TxnLogSqlSurface.targetPath(spark, u.table) match {
          case None => u
          case Some(path) =>
            val names = u.assignments.map(a => a.key match {
              case ua: UnresolvedAttribute => ua.nameParts.last
              case ar: AttributeReference => ar.name
              case other => throw new AnalysisException(
                errorClass = "_LEGACY_ERROR_TEMP_3100",
                messageParameters = Map("message" ->
                  (s"txnlog UPDATE: cannot SET $other — assignments " +
                    "must target plain columns")))
            })
            TxnLogUpdateCommand(path, names,
              u.assignments.map(a =>
                ExprBox(TxnLogSqlSurface.unqualify(a.value))),
              u.condition.map(c =>
                ExprBox(TxnLogSqlSurface.unqualify(c))),
              TxnLogSqlSurface.targetName(u.table))
        }
    }
}

/** Opaque expression holder: a DML command's predicate/assignment
  * expressions are INTENTIONALLY unresolved at analysis time (they
  * resolve by name against the table's own snapshot DataFrame at run
  * time), but an `Expression`-typed case-class field would surface in
  * the command's auto-derived `expressions` and fail CheckAnalysis's
  * unresolved-attribute sweep — boxing hides them from the traversal
  * without losing the tree. */
final case class ExprBox(e: Expression)

/** Runnable half of SQL DELETE: one merge-on-read DV commit. */
case class TxnLogDeleteCommand(table: String, cond: ExprBox,
                               refreshName: Option[String] = None)
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def run(session: SparkSession): Seq[Row] = {
    TxnLog.deleteWhereDV(session, table, GraftShim.column(cond.e))
    // the delete may have journaled the table's FIRST deletion vector:
    // a cached catalog relation pinned in batch mode would refuse the
    // next read — re-resolve it now
    TxnLogSqlSurface.refreshQuietly(session, refreshName)
    Nil
  }
}

/** Runnable half of SQL UPDATE: one copy-on-write commit with
  * update_preimage/update_postimage CDF journaling. */
case class TxnLogUpdateCommand(table: String, setNames: Seq[String],
                               setValues: Seq[ExprBox],
                               cond: Option[ExprBox],
                               refreshName: Option[String] = None)
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.lit
    TxnLog.updateWhere(session, table,
      cond.map(b => GraftShim.column(b.e)).getOrElse(lit(true)),
      setNames.zip(setValues.map(b => GraftShim.column(b.e))))
    TxnLogSqlSurface.refreshQuietly(session, refreshName)
    Nil
  }
}

/** The last line of defense for log-governed writes: whatever analyzer
  * path an `INSERT INTO` a txnlog CATALOG table takes, it must never
  * reach Spark's raw-file `InsertIntoHadoopFsRelationCommand` — files
  * written without a log commit are silently invisible to every
  * log-planned reader (worse than an error). The temp-view route
  * reliably lands on [[org.apache.spark.sql.sources.InsertableRelation]],
  * but the CACHED catalog-relation route was observed to plan the raw
  * command; this post-hoc rule (runs after Spark's own insertion
  * preprocessing, so column alignment/casting is already applied to the
  * query) rewrites any such command over a [[TxnLogParquetFileFormat]]
  * into the transactional append/overwrite. */
case class TxnLogInsertGuard(spark: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case c: InsertIntoHadoopFsRelationCommand
          if c.fileFormat.isInstanceOf[TxnLogParquetFileFormat] =>
        val overwrite = c.mode == org.apache.spark.sql.SaveMode.Overwrite
        val partTypes = c.partitionColumns
          .map(a => a.name -> a.dataType)
        if (c.staticPartitions.nonEmpty)
          // `INSERT [OVERWRITE] t PARTITION (p='x', …)`: the static
          // values rejoin the rows as typed literals and the write
          // lands partition-scoped — OVERWRITE replaces exactly the
          // named partitions (TxnLog.overwritePartitions), INTO
          // appends into them; either way one transactional commit
          TxnLogInsertPartitionCommand(c.outputPath.toString, c.query,
            c.staticPartitions.toSeq.sortBy(_._1), partTypes, overwrite,
            c.outputColumnNames)
        else if (overwrite && c.partitionColumns.nonEmpty &&
            spark.sessionState.conf.partitionOverwriteMode ==
              org.apache.spark.sql.internal.SQLConf
                .PartitionOverwriteMode.DYNAMIC)
          // dynamic INSERT OVERWRITE on a partitioned table: replace
          // exactly the partitions present in the query output —
          // Spark's dynamic mode contract, not a whole-table swap
          TxnLogInsertPartitionCommand(c.outputPath.toString, c.query,
            Nil, partTypes, overwrite = true, c.outputColumnNames)
        else
          TxnLogInsertCommand(c.outputPath.toString, c.query,
            overwrite = overwrite,
            outputColumnNames = c.outputColumnNames)
    }
}

/** Runnable half of a partition-addressed INSERT: static PARTITION
  * values rejoin the (already aligned) query rows as typed literals;
  * OVERWRITE maps to the dynamic-partition replace (swap exactly the
  * partitions the rows land in — for a static spec that is the named
  * partitions), INTO to a transactional append laid out through the
  * table's hive layout. */
case class TxnLogInsertPartitionCommand(table: String, query: LogicalPlan,
                                        staticParts: Seq[(String, String)],
                                        partTypes: Seq[(String,
                                          org.apache.spark.sql.types
                                            .DataType)],
                                        overwrite: Boolean,
                                        outputColumnNames: Seq[String])
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans
    .QueryPlan[_]] = Seq(query)
  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.lit
    val typeOf = partTypes.toMap
    val df0 = GraftShim.ofRows(session, query)
      .toDF(outputColumnNames: _*)
    // the static spec GOVERNS: a query that also carries the partition
    // column is overridden by the declared literal (it can never
    // silently redirect rows outside the named partition)
    val df = staticParts.foldLeft(df0) { case (d, (k, v)) =>
      d.withColumn(k, lit(v).cast(typeOf.getOrElse(k, StringType)))
    }
    // a FULL static spec under OVERWRITE names its partitions
    // explicitly, so an empty source still truncates them (Hive/Spark
    // static-mode contract); values are rendered through the same
    // cast-to-string Spark applies when deriving touched partitions
    val explicit: Set[Seq[String]] =
      if (!overwrite || staticParts.isEmpty ||
          staticParts.map(_._1).toSet != partTypes.map(_._1).toSet)
        Set.empty
      else {
        val sm = staticParts.toMap
        val row = session.range(1).select(partTypes.map { case (k, t) =>
          lit(sm(k)).cast(t).cast(StringType).as(k) }: _*).head
        Set(partTypes.indices.map(row.getString))
      }
    if (overwrite)
      TxnLog.overwritePartitions(session, table, df,
        explicitParts = explicit)
    else TxnLog.append(session, table, df)
    Nil
  }
}

/** Runnable half of the guarded INSERT: one [[TxnLog.append]] /
  * [[TxnLog.overwrite]] commit over the (already aligned and cast)
  * insert query. */
case class TxnLogInsertCommand(table: String, query: LogicalPlan,
                               overwrite: Boolean,
                               outputColumnNames: Seq[String])
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans
    .QueryPlan[_]] = Seq(query)
  override def run(session: SparkSession): Seq[Row] = {
    val df = GraftShim.ofRows(session, query)
      .toDF(outputColumnNames: _*)
    if (overwrite) TxnLog.overwrite(session, table, df)
    else TxnLog.append(session, table, df)
    Nil
  }
}

/** The runnable half of SQL MERGE: executes [[TxnLog.upsert]] at
  * command run time (one optimistic transactional commit; retried
  * internally on a lost commit race like every other writer). */
case class TxnLogMergeCommand(table: String, source: LogicalPlan,
                              keys: Seq[String],
                              withSchemaEvolution: Boolean)
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans
    .QueryPlan[_]] = Seq(source)
  override def run(session: SparkSession): Seq[Row] = {
    TxnLog.upsert(session, table, GraftShim.ofRows(session, source),
      keys, mergeSchema = withSchemaEvolution)
    Nil
  }
}

/** One compiled WHEN clause of a general SQL MERGE: condition and
  * assignment values are [[ExprBox]]-held expressions already
  * re-qualified to the `__t`/`__s` joined-row layout (unqualified
  * names still pending runtime schema-membership resolution);
  * `isStar` expands to all declared columns ← `__s.<col>` at run
  * time. */
final case class TxnLogMergeClauseSpec(condition: Option[ExprBox],
                                       isDelete: Boolean,
                                       isStar: Boolean,
                                       assignments: Seq[(String, ExprBox)])

/** The runnable half of a NON-canonical SQL MERGE (clause conditions,
  * multiple clauses, DELETE actions, explicit assignments, NOT MATCHED
  * BY SOURCE): finishes expression resolution now that both schemas
  * are known — an unqualified name resolves to whichever side declares
  * it (source-first inside insert clauses, ambiguous-refuses
  * elsewhere) — and executes [[TxnLog.merge]]'s clause engine as one
  * file-pruned transactional commit. */
case class TxnLogGeneralMergeCommand(table: String, source: LogicalPlan,
                                     keys: Seq[String],
                                     sourceKeys: Seq[String],
                                     matched: Seq[TxnLogMergeClauseSpec],
                                     notMatched: Seq[TxnLogMergeClauseSpec],
                                     notMatchedBySource:
                                       Seq[TxnLogMergeClauseSpec],
                                     refreshName: Option[String],
                                     withSchemaEvolution: Boolean = false)
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans
    .QueryPlan[_]] = Seq(source)
  override def run(session: SparkSession): Seq[Row] = {
    val src = GraftShim.ofRows(session, source)
    val schema = TxnLog.declaredSchema(table).getOrElse(
      sys.error(s"MERGE requires a declared schema: $table"))
    val tCols = schema.fieldNames.map(_.toLowerCase).toSet
    val sCols = src.columns.map(_.toLowerCase).toSet
    def side(e: Expression, insertCtx: Boolean)
        : org.apache.spark.sql.Column =
      GraftShim.column(e.transformUp {
        case u: UnresolvedAttribute if u.nameParts.length == 1 =>
          val n = u.nameParts.head
          val inT = tCols.contains(n.toLowerCase)
          val inS = sCols.contains(n.toLowerCase)
          if (insertCtx && inS) UnresolvedAttribute(Seq("__s", n))
          else if (inT && inS) throw new AnalysisException(
            errorClass = "_LEGACY_ERROR_TEMP_3100",
            messageParameters = Map("message" ->
              (s"MERGE: reference to $n is ambiguous (both target and " +
                "source declare it) — qualify it with the table alias")))
          else if (inS) UnresolvedAttribute(Seq("__s", n))
          else UnresolvedAttribute(Seq("__t", n))
      })
    // star expansion: the declared columns ← __s.<col>; under WITH
    // SCHEMA EVOLUTION the source's EXTRA columns ride along too
    // (Delta's update*/insert* evolution rule)
    val starCols = schema.fieldNames.toSeq ++
      (if (withSchemaEvolution)
        src.columns.toSeq.filterNot(c => tCols.contains(c.toLowerCase))
      else Nil)
    def clauses(sps: Seq[TxnLogMergeClauseSpec], insertCtx: Boolean)
        : Seq[TxnLog.MergeClause] = sps.map { sp =>
      val assigns =
        if (sp.isStar) starCols.map(n =>
          n -> org.apache.spark.sql.functions.col(s"__s.$n"))
        else sp.assignments.map { case (n, b) =>
          n -> side(b.e, insertCtx) }
      TxnLog.MergeClause(sp.condition.map(b => side(b.e, insertCtx)),
        sp.isDelete, assigns)
    }
    TxnLog.merge(session, table, src, keys,
      clauses(matched, insertCtx = false),
      clauses(notMatched, insertCtx = true),
      clauses(notMatchedBySource, insertCtx = false),
      sourceKeys = sourceKeys, mergeSchema = withSchemaEvolution)
    TxnLogSqlSurface.refreshQuietly(session, refreshName)
    Nil
  }
}
