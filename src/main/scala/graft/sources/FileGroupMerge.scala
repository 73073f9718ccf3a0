package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{EliminateSubqueryAliases, ResolvedIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{AppendData, Assignment, CreateTableAsSelect, DeleteAction, DeleteFromTable, InsertAction, LogicalPlan, MergeAction, MergeIntoTable, TableSpec, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.cdc.FileGroups

/** `MERGE INTO graft_cdc.<table> ...` — the SQL write door on the
  * file-group CDC store, closing the last experience seam against the
  * reference's end product (README.md:298-304: downstream users get a
  * catalog table they can query AND maintain with standard SQL).
  *
  * The catalog itself stays READ-ONLY at the DSv2 write surface
  * (blind appends would bypass the crash-safe versioned-commit
  * protocol); MERGE is instead LOWERED onto that protocol: a post-hoc
  * analyzer rule (the delta-lake-style extension point — DSv2 has no
  * native path for a custom merge executor short of the full
  * SupportsRowLevelOperations write machinery) rewrites the RESOLVED
  * [[MergeIntoTable]] into [[FileGroupMergeCommand]], which computes
  * the change batch declaratively and hands it to
  * [[graft.cdc.FileGroups.commit]] — same latest-wins merge, bucket
  * pruning, manifest swap and atomic `_COMMIT_` marker as every other
  * write. Registered via `GraftExtensions` (session build time —
  * analyzer rules cannot be injected into a live session).
  *
  * Semantics (standard SQL MERGE, first matching clause wins):
  *  - WHEN MATCHED [AND c] THEN UPDATE SET ... — unset columns keep the
  *    target row's values; the batch row ties the target's ordering
  *    column unless SET changes it, and commit's tie-break prefers the
  *    batch, so the update always lands.
  *  - WHEN MATCHED [AND c] THEN DELETE — the batch row carries the
  *    store's CDC delete (`op='d'`), so the key leaves the snapshot
  *    through the same collapse as any Debezium delete. Requires the
  *    table to have the `op` column.
  *  - WHEN NOT MATCHED [AND c] THEN INSERT ... — unassigned columns
  *    null.
  *  - WHEN NOT MATCHED BY SOURCE and WITH SCHEMA EVOLUTION fail
  *    loudly: the first needs a full-table anti-scan (a deliberate
  *    non-goal for the bucket-pruned write path), the second is the
  *    store's reconcile-on-read job, not the merge's.
  *
  * Scale: matched/not-matched classification is ONE left-outer join of
  * the (batch-sized) source against the snapshot scan, the same shape
  * Hudi/Delta merges pay; the write side then rewrites only the file
  * groups the change batch's keys hash into. The SQL-standard
  * cardinality guard (a target row matched by >1 source rows is an
  * error, not a double-update) and the ordering guard ride that
  * commit's write: one match row per matched pair, counted per target
  * row where the write's exchange already groups it — batch-sized, and
  * no job of its own.
  */
class FileGroupMergeRule(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case m: MergeIntoTable if m.resolved =>
      EliminateSubqueryAliases(m.targetTable) match {
        case r: DataSourceV2Relation if r.table.isInstanceOf[FileGroupTable] =>
          val t = r.table.asInstanceOf[FileGroupTable]
          if (m.notMatchedBySourceActions.nonEmpty)
            throw new UnsupportedOperationException(
              "WHEN NOT MATCHED BY SOURCE is not supported on file-group tables: " +
                "it requires a full-table anti-scan; run the update/delete as a " +
                "derived CDC batch through FileGroups.commit instead")
          if (m.withSchemaEvolution)
            throw new UnsupportedOperationException(
              "WITH SCHEMA EVOLUTION is not supported on file-group tables: the " +
                "store reconciles drifted batches on read (mergeSchema) — commit " +
                "the widened batch directly")
          (m.matchedActions ++ m.notMatchedActions).foreach {
            case UpdateAction(_, assigns, _) => assertTopLevelAssignments(assigns, "MERGE")
            case InsertAction(_, assigns) => assertTopLevelAssignments(assigns, "MERGE")
            case _ => ()
          }
          val hasDelete = m.matchedActions.exists(_.isInstanceOf[DeleteAction])
          if (hasDelete && !r.output.exists(a =>
              session.sessionState.conf.resolver(a.name, FileGroupMergeCommand.OpCol)))
            throw new UnsupportedOperationException(
              s"WHEN MATCHED ... DELETE needs an '${FileGroupMergeCommand.OpCol}' " +
                "column on the target (the store's CDC delete convention)")
          FileGroupMergeCommand(t.dir, t.snapshotVersion, t.keySeq, t.ordSeq, r, m.sourceTable,
            m.mergeCondition, m.matchedActions, m.notMatchedActions)
        case _ => m
      }

    // DELETE FROM graft_cdc.<t> WHERE p — the matching rows become the
    // store's CDC delete batch (op='d'); with a record-key predicate
    // the batch-build scan is already file-group-pruned by the
    // catalog's scan builder, and commit rewrites only the touched
    // groups.
    case d: DeleteFromTable if d.resolved =>
      EliminateSubqueryAliases(d.table) match {
        case r: DataSourceV2Relation if r.table.isInstanceOf[FileGroupTable] =>
          val t = r.table.asInstanceOf[FileGroupTable]
          if (!r.output.exists(a =>
              session.sessionState.conf.resolver(a.name, FileGroupMergeCommand.OpCol)))
            throw new UnsupportedOperationException(
              s"DELETE needs an '${FileGroupMergeCommand.OpCol}' column on the " +
                "target (the store's CDC delete convention)")
          FileGroupDmlCommand(t.dir, t.snapshotVersion, t.keySeq, t.ordSeq, r,
            Some(d.condition), Nil, delete = true)
        case _ => d
      }

    // UPDATE graft_cdc.<t> SET ... WHERE p — the matching rows with the
    // assignments applied become an upsert batch (ties on the ordering
    // column break toward the batch, so the update always lands).
    // Updating a RECORD KEY is rejected: under key-addressed storage
    // that is a delete+insert, which MERGE or an explicit CDC batch
    // expresses honestly (Hudi prohibits record-key updates the same
    // way).
    case u: UpdateTable if u.resolved =>
      EliminateSubqueryAliases(u.table) match {
        case r: DataSourceV2Relation if r.table.isInstanceOf[FileGroupTable] =>
          val t = r.table.asInstanceOf[FileGroupTable]
          val keyHit = u.assignments.collectFirst {
            case Assignment(k: org.apache.spark.sql.catalyst.expressions.Attribute, _)
              if t.keySeq.exists(session.sessionState.conf.resolver(_, k.name)) => k.name
          }
          keyHit.foreach { k =>
            throw new UnsupportedOperationException(
              s"UPDATE cannot change record key '$k': under key-addressed file " +
                "groups that is a delete+insert — express it with MERGE INTO or " +
                "a CDC batch through FileGroups.commit")
          }
          assertTopLevelAssignments(u.assignments, "UPDATE")
          FileGroupDmlCommand(t.dir, t.snapshotVersion, t.keySeq, t.ordSeq, r,
            u.condition, u.assignments, delete = false)
        case _ => u
      }

    // CREATE TABLE graft_cdc.<t> [TBLPROPERTIES(...)] AS SELECT ... —
    // the lifecycle opener: a file-group table IS its first versioned
    // commit, so CTAS lowers to FileGroups.commit at v0 (schema,
    // manifest, blooms and the atomic marker land exactly as any other
    // commit — the DSv2 staging write machinery is bypassed the same
    // way MERGE bypasses blind appends). Record key / ordering /
    // bucket-count come from TBLPROPERTIES ('keys', 'ord', 'buckets'),
    // defaulting to the owning catalog's conf; the key columns are
    // pinned in the manifest from this first commit on.
    case c: CreateTableAsSelect if c.resolved =>
      c.name match {
        case ResolvedIdentifier(cat: FileGroupCatalog, ident) =>
          if (c.partitioning.nonEmpty)
            throw new UnsupportedOperationException(
              "PARTITIONED BY is not supported on file-group tables: the store " +
                "hash-buckets by record key (set TBLPROPERTIES('buckets'='N'))")
          // property names are matched case-insensitively: TBLPROPERTIES
          // keys are user-typed free text, and a silently-ignored
          // 'KEYS' would pin the table to the wrong record identity
          // forever (the manifest freezes keys at v0)
          val props = (c.tableSpec match {
            case t: TableSpec =>
              t.location.foreach { loc =>
                throw new UnsupportedOperationException(
                  s"LOCATION '$loc' is not supported: file-group tables live under " +
                    "the catalog root (table name = directory)")
              }
              t.properties
            case _ => Map.empty[String, String]
          }).map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
          // reject unknown property names loudly: a typo ('key',
          // 'primary_keys') would otherwise fall back to the catalog
          // default and pin the WRONG record identity forever (the
          // manifest freezes keys at v0)
          val unknown = props.keySet -- Set("keys", "ord", "buckets", "retain")
          if (unknown.nonEmpty)
            throw new IllegalArgumentException(
              s"unknown TBLPROPERTIES ${unknown.toSeq.sorted.mkString("'", "', '", "'")} " +
                "on a file-group CTAS — supported: 'keys', 'ord', 'buckets', 'retain' " +
                "(a typo here would silently pin the catalog-default record identity forever)")
          def colsProp(k: String, dflt: Seq[String]) = props.get(k)
            .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(dflt)
          val buckets = props.get("buckets").map { s =>
            s.toIntOption.getOrElse(throw new IllegalArgumentException(
              s"TBLPROPERTIES('buckets'='$s') must be an integer"))
          }.getOrElse(16)
          // cleaner retention policy (versions the GC window keeps —
          // the VERSION AS OF-reachable history); validated here so a
          // bad value fails the STATEMENT, not the first commit's GC
          val retain = props.get("retain").map { s =>
            s.toIntOption.filter(_ >= 2).getOrElse(throw new IllegalArgumentException(
              s"TBLPROPERTIES('retain'='$s') must be an integer >= 2 " +
                "(the protocol keeps the current + one prior version)"))
          }
          FileGroupCtasCommand(cat.dirFor(ident), ident.name(),
            colsProp("keys", cat.defaultKeys), colsProp("ord", cat.defaultOrd),
            buckets, c.ignoreIfExists, c.query, retain)
        case _ => c
      }

    // INSERT INTO graft_cdc.<t> ... — the aligned insert rows become an
    // upsert batch: under a key-addressed store INSERT has UPSERT
    // semantics (latest-wins by the ordering column, batch wins ties —
    // Hudi's spark-sql INSERT INTO behaves the same way). The analyzer
    // has already aligned/cast the query to the table schema
    // (TableOutputResolver), so the batch is a positional rename away.
    // INSERT OVERWRITE stays unsupported (capability check fails loudly
    // downstream — a table-replacing write belongs to the Scala
    // services, not a SQL statement).
    case a: AppendData if a.resolved =>
      a.table match {
        case r: DataSourceV2Relation if r.table.isInstanceOf[FileGroupTable] =>
          val t = r.table.asInstanceOf[FileGroupTable]
          FileGroupInsertCommand(t.dir, t.snapshotVersion, t.keySeq, t.ordSeq, r, a.query)
        case _ => a
      }
  }

  /** The batch-build machinery applies assignments by matching TARGET
    * ATTRIBUTES (`k.exprId == a.exprId`), so an assignment whose key is
    * a nested-field extraction (`SET meta.x = 5` resolves the key to a
    * GetStructField, not an Attribute) would match nothing and SILENTLY
    * keep the target value — a wrong result, not a missing feature.
    * Fail loudly instead; assigning the whole struct column expresses
    * the same update honestly. */
  private def assertTopLevelAssignments(assigns: Seq[Assignment], stmt: String): Unit =
    assigns.foreach {
      case Assignment(_: Attribute, _) => ()
      case Assignment(k, _) =>
        throw new UnsupportedOperationException(
          s"$stmt cannot assign nested field '${k.sql}' on a file-group table: " +
            "assignments must target whole top-level columns — assign the full " +
            "struct value instead")
    }
}

/** The lowered CTAS: materialize the query as the table's FIRST
  * versioned commit (v0) — schema, per-bucket stats/blooms and the
  * `#keys`/`#ord` manifest headers all land through the one crash-safe
  * protocol, so a CTAS table is indistinguishable from one built by
  * streaming ingest. The key columns must exist in the query output
  * (checked loudly — commit's resolution error would be opaque);
  * `IF NOT EXISTS` no-ops on a committed table, plain CREATE on one
  * fails. Scale: cost = one pass over the query result (the write),
  * exactly a first commit's price. */
case class FileGroupCtasCommand(
    dir: String, table: String, keys: Seq[String], ord: Seq[String],
    nBuckets: Int, ignoreIfExists: Boolean, query: LogicalPlan,
    retain: Option[Int] = None)
  extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    if (FileGroups.committedId(session, dir).isDefined) {
      if (!ignoreIfExists)
        throw new IllegalStateException(
          s"file-group table '$table' already exists at $dir — use CREATE TABLE IF " +
            "NOT EXISTS, or DROP TABLE first (writes to an existing table go through " +
            "MERGE/UPDATE/DELETE/INSERT)")
    } else {
      val df0 = org.apache.spark.sql.classic.GraftPlanBuilder.ofRows(session, query)
      val resolver = session.sessionState.conf.resolver
      (keys ++ ord).foreach { c =>
        if (!df0.columns.exists(resolver(_, c)))
          throw new IllegalArgumentException(
            s"CTAS key/ordering column '$c' is not in the query output " +
              s"(${df0.columns.mkString(", ")}) — set TBLPROPERTIES('keys'=..., 'ord'=...) " +
              "to columns the SELECT produces")
      }
      require(nBuckets > 0, s"TBLPROPERTIES('buckets'='$nBuckets') must be positive")
      // the store's CDC convention needs an op column (the latest-wins
      // collapse applies op='d' deletes; SQL DELETE lowers onto it) — a
      // CTAS query without one gets op='c' stamped: every created row
      // is, honestly, a create
      val df = if (df0.columns.exists(resolver(_, FileGroupMergeCommand.OpCol))) df0
        else df0.withColumn(FileGroupMergeCommand.OpCol, lit(graft.cdc.Envelope.OpCreate))
      // the retention marker lands BEFORE v0 so the very first commit's
      // GC pass (and every later writer's) already honors the policy
      retain.foreach(FileGroups.setRetention(session, dir, _))
      // allowEmpty = true: a CTAS of an empty query still creates the
      // (empty, schema-carrying) table. The typed Replayed outcome IS
      // the raced-create detection: another writer published v0 between
      // the exists-check above and this commit, so the table holds the
      // OTHER statement's data and reporting success would be a silent
      // drop (the commitNonEmpty conflict rule's CTAS twin — no
      // emptiness probe job needed anymore). IF NOT EXISTS accepts the
      // raced winner, the same semantics as losing the race one instant
      // earlier at the exists-check.
      FileGroups.commitOutcome(session, dir, df, 0L, keys, ord, nBuckets,
          allowEmpty = true) match {
        case FileGroups.Replayed if !ignoreIfExists =>
          throw new IllegalStateException(
            s"concurrent CREATE TABLE detected at $dir: another writer published " +
              "the table while this CTAS ran — it holds the OTHER statement's data; " +
              "DROP it first (or use IF NOT EXISTS to accept the existing table)")
        case _ => ()
      }
    }
    Seq.empty
  }
}

/** The lowered INSERT: commit the aligned rows as an upsert batch.
  * Deliberately NOT guarded by the UPDATE path's ordering-regression
  * check: INSERT declares a CDC row, and the store's precombine
  * contract governs — a row carrying a lower ordering value than the
  * key's current row loses latest-wins, exactly as the same row would
  * arriving through any CDC batch (Hudi's spark-sql INSERT semantics).
  * UPDATE is different: its intent is imperative ("change this row"),
  * so a silently-losing assignment there is an error, not a merge. */
case class FileGroupInsertCommand(
    dir: String, version: Long, keys: Seq[String], ord: Seq[String],
    target: LogicalPlan, query: LogicalPlan)
  extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val committed = FileGroupMergeCommand.resolvedCommitted(session, dir, version, "INSERT")
    val batch = org.apache.spark.sql.classic.GraftPlanBuilder.ofRows(session, query)
      .toDF(target.output.map(_.name): _*)
    FileGroupMergeCommand.commitNonEmpty(session, dir, batch, committed + 1, keys, ord)
    Seq.empty
  }
}

/** The lowered UPDATE/DELETE: filter the snapshot to the hit rows,
  * apply assignments (UPDATE) or stamp the CDC delete op (DELETE), and
  * commit the batch through the crash-safe protocol — the strictly
  * simpler siblings of [[FileGroupMergeCommand]]. */
case class FileGroupDmlCommand(
    dir: String, version: Long, keys: Seq[String], ord: Seq[String],
    target: LogicalPlan, condition: Option[Expression],
    assignments: Seq[Assignment], delete: Boolean)
  extends LeafRunnableCommand {

  import FileGroupMergeCommand.OpCol

  override def run(session: SparkSession): Seq[Row] = {
    val committed = FileGroupMergeCommand.resolvedCommitted(
      session, dir, version, if (delete) "DELETE" else "UPDATE")
    val resolver = session.sessionState.conf.resolver
    val tgt = org.apache.spark.sql.classic.GraftPlanBuilder.ofRows(session, target)
    val hit = condition.map(c => tgt.filter(Bridge.column(c))).getOrElse(tgt)
    def assignedTo(a: Attribute): Option[Expression] = assignments.collectFirst {
      case Assignment(k: Attribute, v) if k.exprId == a.exprId => v
    }
    // Ordering-regression guard: latest-wins keeps the HIGHER ord
    // tuple, so an UPDATE that assigns the ordering column a value
    // below the target row's would commit a version and report success
    // while the snapshot keeps the old row — the silent-keep failure
    // class this file rejects loudly everywhere else. Batch-sized
    // check (the hit rows), only when an ord column is assigned.
    if (!delete) {
      val ordAttrs = ord.flatMap(o => target.output.find(a => resolver(a.name, o)))
      if (ordAttrs.exists(assignedTo(_).isDefined)) {
        val newOrd = struct(ordAttrs.map(a =>
          assignedTo(a).map(Bridge.column).getOrElse(Bridge.column(a))): _*)
        val oldOrd = struct(ordAttrs.map(Bridge.column(_)): _*)
        // coalesce(_, true): a NULL comparison (an assigned ord value
        // of NULL against a non-null target) must count as a
        // violation, not slip through the filter — the null-ord batch
        // row loses the NULLS-LAST desc collapse just like a lower one
        if (hit.filter(coalesce(newOrd < oldOrd, lit(true))).limit(1).count() > 0)
          throw new IllegalStateException(
            s"UPDATE assigns ordering column(s) ${ord.mkString(", ")} a value " +
              "below the target row's: latest-wins would keep the old row, " +
              "silently dropping the update — assign a value at or above the " +
              "current one (or commit a CDC batch with the intended ordering)")
      }
    }
    val batchCols = target.output.map { a =>
      if (delete && resolver(a.name, OpCol)) lit(graft.cdc.Envelope.OpDelete).as(a.name)
      else assignedTo(a).map(Bridge.column(_).as(a.name)).getOrElse(Bridge.column(a))
    }
    FileGroupMergeCommand.commitNonEmpty(session, dir,
      hit.select(batchCols: _*), committed + 1, keys, ord)
    Seq.empty
  }
}

/** The lowered merge: computes the change batch as a single
  * declarative plan over `source LEFT OUTER JOIN target` and commits
  * it through the crash-safe file-group protocol. A LEAF command — the
  * analyzed target/source plans ride as fields for exact attribute-id
  * alignment with the resolved condition/assignments. */
case class FileGroupMergeCommand(
    dir: String, version: Long, keys: Seq[String], ord: Seq[String],
    target: LogicalPlan, source: LogicalPlan, condition: Expression,
    matchedActions: Seq[MergeAction], notMatchedActions: Seq[MergeAction])
  extends LeafRunnableCommand {

  import FileGroupMergeCommand._

  override def run(session: SparkSession): Seq[Row] = {
    val committed = FileGroupMergeCommand.resolvedCommitted(session, dir, version, "MERGE")
    val src = org.apache.spark.sql.classic.GraftPlanBuilder.ofRows(session, source)
    val tgt = org.apache.spark.sql.classic.GraftPlanBuilder.ofRows(session, target)
    // not persisted: the join runs once, inside the commit's persisted
    // batch — the statement's only cache
    val joined = src.join(tgt.withColumn(MatchedCol, lit(true)),
      Bridge.column(condition), "left_outer")
    val tgtAttrs = target.output
    val resolver = session.sessionState.conf.resolver

    def condCol(c: Option[Expression]) = c.map(Bridge.column).getOrElse(lit(true))
    // first matching clause wins: fold right into a CASE chain; no
    // clause applying = null route = row dropped (no change)
    def route(actions: Seq[MergeAction], base: Int) =
      actions.zipWithIndex.foldRight(lit(null).cast("int")) {
        case ((a, i), els) => when(condCol(a.condition), lit(base + i)).otherwise(els)
      }
    val routedAll = joined
      .withColumn(ActionCol, when(col(MatchedCol) === true, route(matchedActions, 0))
        .otherwise(route(notMatchedActions, NotMatchedBase)))

    def assigned(assigns: Seq[Assignment], tAttr: Attribute): Option[Expression] =
      assigns.collectFirst {
        case Assignment(k: Attribute, v) if k.exprId == tAttr.exprId => v
      }
    def valueFor(a: MergeAction, tAttr: Attribute) = a match {
      case UpdateAction(_, assigns, _) =>
        assigned(assigns, tAttr).map(Bridge.column).getOrElse(Bridge.column(tAttr))
      case DeleteAction(_) =>
        if (resolver(tAttr.name, OpCol)) lit(graft.cdc.Envelope.OpDelete)
        else Bridge.column(tAttr)
      case InsertAction(_, assigns) =>
        assigned(assigns, tAttr).map(Bridge.column)
          .getOrElse(lit(null).cast(tAttr.dataType))
      case other => throw new UnsupportedOperationException(
        s"unsupported MERGE action ${other.getClass.getSimpleName}")
    }
    val coded = matchedActions.zipWithIndex ++
      notMatchedActions.zipWithIndex.map { case (a, i) => (a, NotMatchedBase + i) }
    val batchCols = tgtAttrs.map { tAttr =>
      coded.foldRight(lit(null).cast(tAttr.dataType)) { case ((a, code), els) =>
        when(col(ActionCol) === code, valueFor(a, tAttr)).otherwise(els)
      }.cast(tAttr.dataType).as(tAttr.name)
    }
    if (matchedActions.isEmpty) {
      FileGroupMergeCommand.commitNonEmpty(session, dir,
        routedAll.filter(col(ActionCol).isNotNull).select(batchCols: _*),
        committed + 1, keys, ord)
      return Seq.empty
    }

    // The two semantic guards ride the commit's own write (no job of
    // their own): every matched (target row, source row) pair adds a
    // MATCH row keyed by the target row's key (FileGroups.MatchCol),
    // the write's exchange groups them with the target row, and the
    // commit fails the statement on a violation before it publishes
    // (FileGroups.checkMatches throws the two messages).
    //  - SQL-standard cardinality: one target row, one source match.
    //  - Ordering regression (the UPDATE-statement guard's MERGE
    //    twin): an UPDATE clause assigning the ordering column a value
    //    below the matched target row's would lose latest-wins — the
    //    merge would commit and report success while the snapshot kept
    //    the old row. Only update clauses that assign an ord column
    //    contribute a predicate; such a match row is marked 2.
    val keyAttrs = keys.map(k => tgtAttrs.find(a => resolver(a.name, k)).getOrElse(
      throw new IllegalStateException(s"record key '$k' not in target schema")))
    val ordAttrs = ord.flatMap(o => tgtAttrs.find(a => resolver(a.name, o)))
    val ordRegressed = coded.collect {
      case (UpdateAction(_, assigns, _), code)
          if ordAttrs.exists(assigned(assigns, _).isDefined) =>
        // coalesce(_, true): a NULL assigned ord value must count as
        // a violation (the null-ord row loses the NULLS-LAST desc
        // collapse), not null out the predicate and slip through
        (col(ActionCol) === code) &&
          coalesce(struct(ordAttrs.map(a => assigned(assigns, a)
            .map(Bridge.column).getOrElse(Bridge.column(a))): _*)
            < struct(ordAttrs.map(Bridge.column(_)): _*), lit(true))
    }
    val regress = if (ordRegressed.nonEmpty) ordRegressed.reduce(_ || _) else lit(false)
    val rowToMerge = when(col(ActionCol).isNotNull,
      struct(batchCols :+ lit(null).cast("int").as(FileGroups.MatchCol): _*))
    val matchRow = when(col(MatchedCol) === true,
      struct(tgtAttrs.map { a =>
        (if (keyAttrs.contains(a)) Bridge.column(a) else lit(null).cast(a.dataType)).as(a.name)
      } :+ when(regress, 2).otherwise(1).as(FileGroups.MatchCol): _*))
    FileGroupMergeCommand.commitNonEmpty(session, dir,
      routedAll.select(inline(array_compact(array(rowToMerge, matchRow)))),
      committed + 1, keys, ord)
    Seq.empty
  }
}

object FileGroupMergeCommand {
  /** The store's CDC op column (CdcMerge's default): DELETE lowers to
    * a row with op='d', collapsed away like any Debezium delete. */
  val OpCol = "op"

  /** The shared concurrent-commit guard: every lowered statement
    * resolved its table at some committed version; by commit time the
    * table must still BE at that version or the statement's batch was
    * computed against a stale snapshot — fail with a re-run hint
    * rather than committing a lost-update. Returns the committed id. */
  private[sources] def resolvedCommitted(session: SparkSession, dir: String,
                                         version: Long, stmt: String): Long = {
    val committed = FileGroups.committedId(session, dir).getOrElse(
      throw new IllegalStateException(s"no committed file-group table at $dir"))
    if (committed != version)
      throw new IllegalStateException(
        s"concurrent commit detected at $dir: $stmt resolved version $version " +
          s"but v$committed is now current — re-run the statement")
    committed
  }
  private val NotMatchedBase = 1000
  private val MatchedCol = "_graft_merge_matched"
  private val ActionCol = "_graft_merge_action"

  /** Commit the change batch ONLY when it has rows: a statement whose
    * clauses hit nothing is a true no-op — an empty commit would still
    * bump the version, and a re-run no-op statement (idempotent
    * MERGE/DELETE are common in retry loops) would silently age real
    * snapshots out of the retention window. Both the emptiness rule
    * and the batch persist live INSIDE commitOutcome now — the old
    * separate `limit(1).count` probe was a whole extra materialization
    * of the batch plan (join + CASE routing, or a windowed snapshot
    * scan) per statement. Returns true when a commit landed. */
  private[sources] def commitNonEmpty(session: SparkSession, dir: String,
                                      batch: org.apache.spark.sql.DataFrame, batchId: Long,
                                      keys: Seq[String], ord: Seq[String]): Boolean = {
    // Commit-time head recheck: resolvedCommitted ran at statement
    // START, and the batch computation can take a while — a concurrent
    // commit (or rollback) landing in between would otherwise hit
    // commit's replay-idempotence guard and the statement would report
    // success for changes that were never applied (the lost-update the
    // version guard exists to prevent). The typed Replayed outcome
    // below catches the same race landing between this recheck and the
    // publish (a no-op statement racing a writer now also surfaces the
    // conflict — its emptiness was computed against a stale snapshot,
    // so the re-run hint is honest there too).
    resolvedCommitted(session, dir, batchId - 1, "commit")
    FileGroups.commitOutcome(session, dir, batch, batchId, keys, ord,
        allowEmpty = false) match {
      case FileGroups.Replayed =>
        throw new IllegalStateException(
          s"concurrent commit detected at $dir: version $batchId was published " +
            "by another writer while this statement ran — re-run the statement")
      case FileGroups.Committed(dirty) => dirty.nonEmpty
    }
  }
}
