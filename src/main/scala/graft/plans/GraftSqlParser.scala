package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, Cast, EqualTo, Expression, Literal, Or}
import org.apache.spark.sql.catalyst.parser.{ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{LongType, StringType, StructType, TimestampType}

import graft.io.MiniDelta

/** Delta's SQL maintenance verbs for graft tables, added the way
  * delta-spark adds them: an injected parser that recognizes the verbs
  * Spark's grammar lacks and delegates EVERYTHING else untouched —
  *
  *   OPTIMIZE graft.t [WHERE <partition predicate>] [ZORDER BY (c, ...)]
  *   VACUUM graft.t [LITE|FULL] [RETAIN <n> HOURS] [DRY RUN]
  *   REORG TABLE graft.t APPLY (PURGE)
  *   DESCRIBE|DESC DETAIL graft.t
  *   DESCRIBE|DESC HISTORY graft.t [LIMIT n]
  *   RESTORE [TABLE] graft.t TO VERSION AS OF n
  *   RESTORE [TABLE] graft.t TO TIMESTAMP AS OF '<ts>'
  *   CREATE TABLE [IF NOT EXISTS] graft.fork SHALLOW CLONE graft.src
  *     [VERSION AS OF n | TIMESTAMP AS OF '<ts>'] [LOCATION '...']
  *   CONVERT TO DELTA graft.raw_alias
  *   ALTER TABLE graft.t DROP FEATURE <name> [TRUNCATE HISTORY]
  *   ALTER TABLE graft.t ALTER COLUMN c SYNC IDENTITY
  *   INSERT INTO graft.t REPLACE WHERE <cond> <query>
  *
  * A statement is intercepted ONLY when its table identifier resolves
  * in [[GraftSqlTables]] (graft.t / graft.datalake.t / a bare
  * registered alias); anything else falls through to the delegate, so
  * foreign syntax and error behavior are untouched. The verbs rewrite
  * to the same MiniDelta entry points the `CALL graft.*` procedures
  * use, under the same per-alias read-only posture.
  *
  * The reference exposes maintenance only operationally (tables are
  * config-registered, /root/reference/src/config.rs:7) — this is
  * extension surface matching what a Delta SQL user expects. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    GraftMaintenanceVerbs.postParse(
      GraftMaintenanceVerbs.parse(sqlText, delegate)
        .getOrElse(delegate.parsePlan(sqlText)))
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseDataType(sqlText: String)
      : org.apache.spark.sql.types.DataType = delegate.parseDataType(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
}

object GraftMaintenanceVerbs {
  // identifiers: up to three dot-separated (optionally backticked) parts
  private val ident = """((?:`[^`]+`|[\w$]+)(?:\.(?:`[^`]+`|[\w$]+)){0,2})"""
  private val OptimizeRe =
    ("""(?is)^\s*OPTIMIZE\s+""" + ident +
      """(?:\s+WHERE\s+(.+?))?(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?\s*;?\s*$""").r
  private val VacuumRe =
    ("""(?is)^\s*VACUUM\s+""" + ident + """(?:\s+(LITE|FULL))?""" +
      """(?:\s+RETAIN\s+(\d+)\s+HOURS)?(?:\s+(DRY\s+RUN))?\s*;?\s*$""").r
  private val ReorgRe =
    ("""(?is)^\s*REORG\s+TABLE\s+""" + ident +
      """\s+APPLY\s*\(\s*PURGE\s*\)\s*;?\s*$""").r
  private val DetailRe =
    ("""(?is)^\s*DESC(?:RIBE)?\s+DETAIL\s+""" + ident + """\s*;?\s*$""").r
  private val HistoryRe =
    ("""(?is)^\s*DESC(?:RIBE)?\s+HISTORY\s+""" + ident +
      """(?:\s+LIMIT\s+(\d+))?\s*;?\s*$""").r
  private val RestoreVerRe =
    ("""(?is)^\s*RESTORE\s+(?:TABLE\s+)?""" + ident +
      """\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*$""").r
  private val RestoreTsRe =
    ("""(?is)^\s*RESTORE\s+(?:TABLE\s+)?""" + ident +
      """\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*$""").r
  // Delta's CLONE DDL (Spark's grammar lacks it, like OPTIMIZE/VACUUM):
  //   CREATE TABLE [IF NOT EXISTS] graft.fork
  //     SHALLOW CLONE graft.src [VERSION AS OF n] [LOCATION '...']
  private val CloneRe =
    ("""(?is)^\s*CREATE\s+TABLE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?""" + ident +
      """\s+SHALLOW\s+CLONE\s+""" + ident +
      """(?:\s+VERSION\s+AS\s+OF\s+(\d+))?""" +
      """(?:\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)')?""" +
      """(?:\s+LOCATION\s+'([^']+)')?\s*;?\s*$""").r
  private val ConvertRe =
    ("""(?is)^\s*CONVERT\s+TO\s+DELTA\s+""" + ident +
      """\s*;?\s*$""").r
  // Delta's protocol downgrade (Spark's grammar lacks the verb):
  //   ALTER TABLE graft.t DROP FEATURE <name> [TRUNCATE HISTORY]
  private val DropFeatureRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + ident +
      """\s+DROP\s+FEATURE\s+(?:`([^`]+)`|([\w]+))""" +
      """(?:\s+(TRUNCATE\s+HISTORY))?\s*;?\s*$""").r
  // Delta's predicate replaceWhere (Spark's INSERT grammar lacks the
  // clause): INSERT INTO graft.t REPLACE WHERE <cond> SELECT ...
  // The lazy condition group stops at the first SELECT/VALUES/WITH/
  // TABLE keyword, so scalar subqueries inside the condition are out
  // of this verb's scope (use the engine API for those).
  private val ReplaceWhereRe =
    ("""(?is)^\s*INSERT\s+INTO\s+""" + ident +
      """\s+REPLACE\s+WHERE\s+(.+?)\s+""" +
      """((?:SELECT|VALUES|WITH|TABLE)\b.+)$""").r
  // Delta's identity resync (Spark's alterColumnAction grammar lacks it):
  //   ALTER TABLE graft.t ALTER COLUMN c SYNC IDENTITY
  private val SyncIdentityRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + ident +
      """\s+ALTER\s+COLUMN\s+(?:`([^`]+)`|([\w]+))""" +
      """\s+SYNC\s+IDENTITY\s*;?\s*$""").r

  private def entryOf(id: String): Option[GraftSqlTables.Entry] = {
    val parts = id.split('.').toSeq.map(_.stripPrefix("`").stripSuffix("`"))
    GraftSqlTables.resolve(parts)
      .orElse(GraftSqlTables.resolve("graft" +: parts))
  }

  def parse(sqlText: String,
            delegate: ParserInterface): Option[LogicalPlan] =
    sqlText match {
      case OptimizeRe(id, where, zorder) => entryOf(id).map { e =>
        val filters = Option(where)
          .map(w => toFilters(delegate.parseExpression(w)))
          .getOrElse(Seq.empty)
        val zCols = Option(zorder).map(_.split(',').toSeq
          .map(_.trim.stripPrefix("`").stripSuffix("`"))
          .filter(_.nonEmpty)).getOrElse(Seq.empty)
        GraftOptimizeCommand(e.path, e.readOnly, filters, zCols)
      }
      case VacuumRe(id, mode, hours, dry) => entryOf(id).map { e =>
        val lite = mode != null && mode.equalsIgnoreCase("LITE")
        if (dry != null)
          GraftVacuumDryRunCommand(e.path,
            Option(hours).map(_.toLong * 3600000L), lite)
        else GraftVacuumCommand(e.path, e.readOnly,
          Option(hours).map(_.toLong * 3600000L), lite)
      }
      case ReorgRe(id) => entryOf(id).map(e =>
        GraftReorgCommand(e.path, e.readOnly))
      case DetailRe(id) => entryOf(id).map(e =>
        GraftDescribeDetailCommand(e.path))
      case HistoryRe(id, limit) => entryOf(id).map(e =>
        GraftDescribeHistoryCommand(e.path,
          Option(limit).map(_.toInt)))
      case RestoreVerRe(id, v) => entryOf(id).map(e =>
        GraftRestoreCommand(e.path, e.readOnly, Some(v.toLong), None))
      case RestoreTsRe(id, ts) => entryOf(id).map(e =>
        GraftRestoreCommand(e.path, e.readOnly, None, Some(ts)))
      case CloneRe(ifNot, tgt, src, ver, ts, loc) =>
        // intercept only when the SOURCE is a registered graft entry —
        // foreign CLONE syntax still falls through to the delegate's
        // own parse error
        entryOf(src).flatMap { se =>
          targetAliasOf(tgt).map { a =>
            require(ver == null || ts == null,
              "SHALLOW CLONE takes VERSION AS OF or TIMESTAMP AS OF, " +
                "not both")
            GraftSqlCloneCommand(a, se.path,
              Option(ver).map(_.toLong), Option(ts), Option(loc),
              ifNot != null)
          }
        }
      case ConvertRe(id) => entryOf(id).map(e =>
        GraftConvertCommand(e.path, e.readOnly))
      case DropFeatureRe(id, featQ, feat, trunc) => entryOf(id).map(e =>
        GraftDropFeatureCommand(e.path, e.readOnly,
          Option(featQ).getOrElse(feat), trunc != null))
      case SyncIdentityRe(id, colQ, colP) => entryOf(id).map(e =>
        GraftSyncIdentityCommand(e.path, e.readOnly,
          Option(colQ).getOrElse(colP)))
      case ReplaceWhereRe(id, condSql, querySql) => entryOf(id).map(e =>
        GraftReplaceWhereCommand(e.path, e.readOnly, condSql,
          delegate.parsePlan(querySql)))
      case _ => None
    }

  /** The CLONE target's alias: `graft.t` / `graft.datalake.t` / bare
    * `t` (the CALL-procedure addressing convention). */
  private def targetAliasOf(id: String): Option[String] =
    id.split('.').toSeq
      .map(_.stripPrefix("`").stripSuffix("`").toLowerCase) match {
      case Seq("graft", t) => Some(t)
      case Seq("graft", "datalake", t) => Some(t)
      case Seq(t) => Some(t)
      case _ => None
    }

  /** Post-parse rewrite for statements Spark's own grammar parses but
    * whose builtin analysis rules CRASH on foreign-catalog targets
    * before an injected resolution rule can intercept
    * (ResolveSessionCatalog assumes ADD/DROP CONSTRAINT targets
    * resolved in the session catalog). Rewriting at the parser level
    * runs before any analyzer batch; non-graft targets pass through
    * untouched. */
  def postParse(plan: LogicalPlan): LogicalPlan =
    plan.transformDown {
      // CHECK form parses to AddCheckConstraint(Filter(NOT cond, rel),
      // constraint) — Spark plans the existing-row validation as the
      // child; the engine command performs the same validation itself
      case org.apache.spark.sql.catalyst.plans.logical.AddCheckConstraint(
          child, cc)
          if (child.collectFirst {
            case r: org.apache.spark.sql.catalyst.analysis
                .UnresolvedRelation
                if GraftSqlTables.resolve(r.multipartIdentifier).isDefined =>
              r
          }).isDefined =>
        val e = (child.collectFirst {
          case r: org.apache.spark.sql.catalyst.analysis
              .UnresolvedRelation =>
            GraftSqlTables.resolve(r.multipartIdentifier)
        }).flatten.get
        require(cc.userProvidedName != null,
          "graft ADD CONSTRAINT needs an explicit constraint name")
        GraftAddConstraintCommand(e.path, e.readOnly,
          cc.userProvidedName, cc.condition)

      case ac @ org.apache.spark.sql.catalyst.plans.logical.AddConstraint(
          u: org.apache.spark.sql.catalyst.analysis.UnresolvedTable, _)
          if GraftSqlTables.resolve(u.multipartIdentifier).isDefined =>
        val e = GraftSqlTables.resolve(u.multipartIdentifier).get
        ac.tableConstraint match {
          case cc: org.apache.spark.sql.catalyst.expressions
              .CheckConstraint =>
            require(cc.userProvidedName != null,
              "graft ADD CONSTRAINT needs an explicit constraint name")
            GraftAddConstraintCommand(e.path, e.readOnly,
              cc.userProvidedName, cc.condition)
          case other => throw new IllegalArgumentException(
            "graft tables support CHECK constraints only; got " +
              other.getClass.getSimpleName)
        }

      case dc: org.apache.spark.sql.catalyst.plans.logical.DropConstraint
          if (dc.table match {
            case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
              GraftSqlTables.resolve(t.multipartIdentifier).isDefined
            case _ => false
          }) =>
        val e = dc.table match {
          case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
            GraftSqlTables.resolve(t.multipartIdentifier).get
          case _ => sys.error("unreachable")
        }
        require(!dc.cascade,
          "DROP CONSTRAINT ... CASCADE is not supported on graft tables")
        GraftDropConstraintCommand(e.path, e.readOnly, dc.name,
          dc.ifExists)
    }

  /** `OPTIMIZE ... WHERE` predicates are PARTITION predicates (Delta's
    * own rule): OR-of-AND-of-equality over literal values, mapped to
    * the engine's `Filters` shape. Anything else refuses by name. */
  private def toFilters(e: Expression): graft.acl.PartitionAcl.Filters =
    e match {
      case Or(l, r) => toFilters(l) ++ toFilters(r)
      case other => Seq(toConjunct(other))
    }
  private def toConjunct(e: Expression): Map[String, String] = e match {
    case And(l, r) => toConjunct(l) ++ toConjunct(r)
    case EqualTo(a: UnresolvedAttribute, Literal(v, _)) if v != null =>
      Map(a.nameParts.last -> v.toString)
    case EqualTo(Literal(v, _), a: UnresolvedAttribute) if v != null =>
      Map(a.nameParts.last -> v.toString)
    case other => throw new IllegalArgumentException(
      "OPTIMIZE ... WHERE supports only partition-equality predicates " +
        s"(col = literal combined with AND/OR); got ${other.sql}")
  }
}

/** `OPTIMIZE graft.t [WHERE ...] [ZORDER BY (...)]` →
  * [[MiniDelta.compact]], scoped to the named partitions, z-ordered
  * when asked — the same rewrite `CALL graft.optimize/zorder` runs.
  * WHERE columns must be partition columns (Delta's refusal). */
case class GraftOptimizeCommand(table: String, readOnly: Boolean,
    where: graft.acl.PartitionAcl.Filters, zOrderBy: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    if (readOnly) throw new MiniDelta.ReadOnlyTableException(table)
    val parts = MiniDelta.partitionColumns(spark, table)
    val bad = where.flatMap(_.keys).distinct
      .filterNot(k => parts.exists(_.equalsIgnoreCase(k)))
    require(bad.isEmpty,
      s"OPTIMIZE ... WHERE references non-partition column(s) " +
        s"${bad.mkString(", ")}; partition columns are " +
        s"${parts.mkString(", ")}")
    // ZORDER BY one column IS 1-D range clustering (Delta accepts the
    // single-column form); the Morton interleave needs >= 2
    val (cluster, zorder) =
      if (zOrderBy.size == 1) (zOrderBy, Nil) else (Nil, zOrderBy)
    Seq(Row(MiniDelta.compact(spark, table, parts, clusterBy = cluster,
      zOrderBy = zorder, where = where)))
  }
}

/** `VACUUM graft.t [LITE|FULL] [RETAIN n HOURS]` →
  * [[MiniDelta.vacuum]]. Without RETAIN the horizon is the table's
  * `delta.deletedFileRetentionDuration` (`interval <n>
  * <hours|days|weeks>`) or Delta's documented 7-day default. LITE
  * (Delta 3.3) derives candidates from the log's tombstones with zero
  * directory listing; FULL (the default) lists.
  *
  * A RETAIN below that configured horizon REFUSES unless
  * `spark.graft.vacuum.retentionDurationCheck.enabled=false` — Delta's
  * own retention-duration check: a short horizon deletes files still
  * needed by time travel, concurrent readers of recent snapshots, and
  * streaming sources reading the log tail. */
case class GraftVacuumCommand(table: String, readOnly: Boolean,
    retainMs: Option[Long], lite: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("n_deleted", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    if (readOnly) throw new MiniDelta.ReadOnlyTableException(table)
    // the engine's one Delta duration-property parser, shared with the
    // retention machinery
    val configured = MiniDelta.tableConfig(spark, table)
      .get("delta.deletedFileRetentionDuration") match {
      case Some(v) => MiniDelta.parseDurationMs(v).getOrElse(
        throw new IllegalArgumentException(
          s"cannot parse delta.deletedFileRetentionDuration '$v' " +
            "(expected: interval <n> <unit>)"))
      case None => 7L * 86400000L
    }
    retainMs.filter(_ < configured).foreach { r =>
      val checkOn = spark.conf.getOption(
        "spark.graft.vacuum.retentionDurationCheck.enabled")
        .forall(_.toBoolean)
      if (checkOn) throw new IllegalArgumentException(
        s"VACUUM $table RETAIN ${r / 3600000} HOURS is below the " +
          s"table's retention horizon (${configured / 3600000} hours); " +
          "files inside it may still serve time travel, concurrent " +
          "readers, and streaming sources — set " +
          "spark.graft.vacuum.retentionDurationCheck.enabled=false " +
          "to override deliberately")
    }
    val horizon = retainMs.getOrElse(configured)
    Seq(Row(MiniDelta.vacuum(spark, table, retainMs = horizon,
      lite = lite).size.toLong))
  }
}

/** `VACUUM graft.t [RETAIN n HOURS] DRY RUN` — Delta's dry-run form:
  * report the table-relative paths vacuum WOULD delete (data files,
  * roaring DV bins) without touching storage. Legal on
  * read-only aliases — it reads. Same default horizon and retention
  * rules as the real run, minus the below-horizon refusal (reporting
  * an aggressive horizon's candidates is the point of a dry run). */
case class GraftVacuumDryRunCommand(table: String, retainMs: Option[Long],
    lite: Boolean = false) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("path", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val configured = MiniDelta.tableConfig(spark, table)
      .get("delta.deletedFileRetentionDuration")
      .flatMap(MiniDelta.parseDurationMs)
      .getOrElse(7L * 86400000L)
    MiniDelta.vacuum(spark, table,
      retainMs = retainMs.getOrElse(configured), dryRun = true,
      lite = lite)
      .sorted.map(Row(_))
  }
}

/** `REORG TABLE graft.t APPLY (PURGE)` → [[MiniDelta.reorgPurge]]:
  * rewrite ONLY the DV-carrying files (dataChange=false, OPTIMIZE's
  * rule), materializing the masks without a whole-table compaction. */
case class GraftReorgCommand(table: String, readOnly: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    if (readOnly) throw new MiniDelta.ReadOnlyTableException(table)
    val v = MiniDelta.reorgPurge(spark, table,
      MiniDelta.partitionColumns(spark, table))
    // drop the cached snapshot like every other mutating verb: a
    // cached pre-REORG manifest still names the superseded DV-masked
    // files, and a VACUUM RETAIN 0 inside the cache TTL would delete
    // them out from under cached reads
    MiniDelta.invalidateSnapshot(table)
    Seq(Row(v))
  }
}

/** `ALTER TABLE graft.t DROP FEATURE f [TRUNCATE HISTORY]` →
  * [[MiniDelta.dropFeature]], Delta's protocol-downgrade verb: live
  * traces purge first (property unset + REORG for deletionVectors,
  * classic-checkpoint cutover for v2Checkpoint), reader-feature drops
  * gate on surviving history unless TRUNCATE HISTORY removes it, and
  * ONE commit carries the downgraded protocol action. */
case class GraftDropFeatureCommand(table: String, readOnly: Boolean,
    feature: String, truncateHistory: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val v = MiniDelta.dropFeature(spark, table, feature,
      truncateHistory = truncateHistory, readOnly = readOnly,
      partitionBy = MiniDelta.partitionColumns(spark, table))
    // mutating verb: the cached snapshot predates the purge/truncation
    MiniDelta.invalidateSnapshot(table)
    Seq(Row(v))
  }
}

/** `ALTER TABLE graft.t ALTER COLUMN c SYNC IDENTITY` →
  * [[MiniDelta.syncIdentity]]: recompute the identity high-water mark
  * from the stored values (Delta's resync for GENERATED BY DEFAULT
  * columns whose explicit inserts outran — or whose deletes
  * stranded — the mark). Returns the new mark (null = cleared, next
  * assignment restarts at the declared START). */
case class GraftSyncIdentityCommand(table: String, readOnly: Boolean,
    column: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("high_water_mark", LongType,
      nullable = true)())
  override def run(spark: SparkSession): Seq[Row] = {
    val hwm = MiniDelta.syncIdentity(spark, table, column,
      readOnly = readOnly)
    Seq(Row(hwm.map(java.lang.Long.valueOf).orNull))
  }
}

/** `INSERT INTO graft.t REPLACE WHERE <cond> <query>` →
  * [[MiniDelta.overwrite]]'s predicate form (Delta 1.1's arbitrary
  * replaceWhere): rows matching the condition are replaced by the
  * query's output in ONE commit — a DELETE fused with the insert, with
  * Delta's scope guard (every incoming row must satisfy the
  * condition). Positional alignment against the declared schema, the
  * plain-INSERT rule. */
case class GraftReplaceWhereCommand(table: String, readOnly: Boolean,
    condSql: String, query: LogicalPlan) extends LeafRunnableCommand {
  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans
    .QueryPlan[_]] = Seq(query)
  override def run(spark: SparkSession): Seq[Row] = {
    if (readOnly) throw new MiniDelta.ReadOnlyTableException(table)
    val src = org.apache.spark.sql.graft.DatasetShim.ofRows(spark, query)
    val parts = MiniDelta.partitionColumns(spark, table)
    val aligned = MiniDelta.latestSchema(spark, table) match {
      case None => src // first write: the overwrite falls through to append
      case Some(st) =>
        require(src.columns.length == st.fields.length,
          s"REPLACE WHERE insert needs ${st.fields.length} columns " +
            s"(${st.fieldNames.mkString(",")}), query produces " +
            s"${src.columns.length}")
        src.toDF(st.fieldNames.toIndexedSeq: _*)
          .select(st.fields.map(f => org.apache.spark.sql.functions
            .col(s"`${f.name}`").cast(f.dataType).as(f.name))
            .toIndexedSeq: _*)
    }
    val cond = org.apache.spark.sql.graft.ColumnBridge.column(
      spark.sessionState.sqlParser.parseExpression(condSql))
    MiniDelta.overwrite(spark, aligned, table, parts,
      replaceWhereCond = Some(cond))
    MiniDelta.invalidateSnapshot(table)
    Seq.empty
  }
}

/** `DESCRIBE DETAIL graft.t` → [[MiniDelta.detail]]'s one-row snapshot
  * facts (Delta's output shape), as the parser verb real Delta adds. */
case class GraftDescribeDetailCommand(table: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    MiniDelta.detailSchema.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable)())
  override def run(spark: SparkSession): Seq[Row] =
    MiniDelta.detail(spark, table).collect().toSeq
}

/** `DESCRIBE HISTORY graft.t [LIMIT n]` → [[MiniDelta.history]],
  * newest first (its order), optionally truncated. */
case class GraftDescribeHistoryCommand(table: String, limit: Option[Int])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("operation", StringType, nullable = true)(),
    AttributeReference("n_added", LongType, nullable = false)(),
    AttributeReference("n_removed", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val h = MiniDelta.history(spark, table)
    limit.fold(h)(h.limit(_)).collect().toSeq
  }
}

/** `CREATE TABLE [IF NOT EXISTS] graft.fork SHALLOW CLONE graft.src
  * [VERSION AS OF n] [LOCATION '...']` → [[MiniDelta.cloneShallow]] —
  * Delta's CLONE DDL. The target registers as a fresh WRITABLE alias
  * (the CREATE TABLE convention) at LOCATION or
  * `<warehouse>/<alias>`; an existing target alias refuses unless
  * IF NOT EXISTS (then no-op, Spark's rule). */
case class GraftSqlCloneCommand(targetAlias: String, sourcePath: String,
    versionAsOf: Option[Long], timestampAsOf: Option[String],
    location: Option[String], ifNotExists: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val a = targetAlias.toLowerCase
    if (GraftSqlTables.resolve(Seq("graft", a)).isDefined) {
      if (ifNotExists) return Seq.empty
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(Seq("graft", a))
    }
    val path = location
      .orElse(GraftDdl.warehouse(spark).map(w =>
        s"${w.stripSuffix("/")}/$a"))
      .getOrElse(throw new IllegalArgumentException(
        "SHALLOW CLONE needs LOCATION '<path>' or the catalog " +
          "warehouse conf (spark.sql.catalog.graft.warehouse=<root>)"))
    // TIMESTAMP AS OF resolves through time travel's at-or-before rule
    val pinned = versionAsOf.orElse(timestampAsOf.map { ts =>
      val micros = Cast(Literal(ts), TimestampType,
        Some(spark.sessionState.conf.sessionLocalTimeZone)).eval(null)
      require(micros != null,
        s"SHALLOW CLONE: '$ts' is not a valid timestamp")
      MiniDelta.versionAtTimestamp(spark, sourcePath,
        micros.asInstanceOf[Long] / 1000L)
    })
    val v = MiniDelta.cloneShallow(spark, sourcePath, path, pinned)
    GraftSqlTables.register(a, path, readOnly = false)
    Seq(Row(v))
  }
}

/** `CONVERT TO DELTA graft.<alias>` → [[MiniDelta.convertToDelta]]:
  * promote a raw-parquet alias to a governed table in place (v0
  * references the existing files; zero data copied) — the SQL form of
  * `CALL graft.convert_to_delta`. */
case class GraftConvertCommand(table: String, readOnly: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    if (readOnly) throw new MiniDelta.ReadOnlyTableException(table)
    Seq(Row(MiniDelta.convertToDelta(spark, table)))
  }
}

/** `RESTORE [TABLE] graft.t TO VERSION|TIMESTAMP AS OF ...` →
  * [[MiniDelta.restore]]; a timestamp resolves through the same
  * at-or-before rule as time travel. */
case class GraftRestoreCommand(table: String, readOnly: Boolean,
    version: Option[Long], timestamp: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    if (readOnly) throw new MiniDelta.ReadOnlyTableException(table)
    val v = version.getOrElse {
      val micros = Cast(Literal(timestamp.get), TimestampType,
        Some(spark.sessionState.conf.sessionLocalTimeZone)).eval(null)
      require(micros != null,
        s"RESTORE: '${timestamp.get}' is not a valid timestamp")
      MiniDelta.versionAtTimestamp(spark, table,
        micros.asInstanceOf[Long] / 1000L)
    }
    Seq(Row(MiniDelta.restore(spark, table, v)))
  }
}
