package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, AttributeSet, EqualTo, Exists, Expression, InSubquery, IsNotNull, NamedExpression, Not, OuterReference, PlanExpression, ScalarSubquery, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.BooleanType

import graft.ext.{GraftTableV2, ManifestTable}

/** SQL `UPDATE` and `MERGE INTO` for graft-manifest tables — the two DML
  * verbs the DSv2 seams don't carry (Spark routes them to
  * `SupportsRowLevelOperations`, a full V2 write stack). Instead of
  * duplicating the write path behind that interface, this resolution
  * rule converts the RESOLVED logical commands into the engine's own
  * row-level operations — the same file-pruned, constraint-checked,
  * CDC-classified copy-on-write commits every Scala caller gets:
  *
  *   - `UPDATE t SET c = expr, ... WHERE p`  →
  *     [[ManifestTable.updateWhere]] (stats+bloom candidate pruning; the
  *     SET expressions evaluate against the OLD row, standard SQL
  *     semantics, cast back to the column type);
  *   - `MERGE INTO t USING s ON t.k = s.k
  *        WHEN MATCHED THEN UPDATE SET *
  *        WHEN NOT MATCHED THEN INSERT *`   →
  *     [[ManifestTable.merge]] (source-key file pruning: an upsert
  *     batch touches O(matched files), never the table);
  *   - `MERGE INTO t USING s ON t.k = s.k
  *        WHEN MATCHED THEN DELETE`         →
  *     [[ManifestTable.deleteMatching]] (the CDC apply path's
  *     tombstone half — delete-by-source-keys, same pruning);
  *   - every OTHER clause algebra — conditional matched clauses,
  *     partial-column `UPDATE SET c = expr`, mixed UPDATE+DELETE,
  *     conditional/partial INSERTs, `NOT MATCHED BY SOURCE` →
  *     [[ManifestTable.mergeGeneral]] (same source-key candidate
  *     pruning unless NMBS clauses force full scope; SQL clause-order
  *     and cardinality-violation semantics).
  *
  * The two specialized shapes stay their own commands because the
  * engine's dedicated row ops plan leaner (no clause-selection
  * projection); semantics are identical. The ON condition needs at
  * least one target/source column equality conjunct (any names —
  * `ON t.id = s.src_id` works); those equalities are the file-pruning
  * key, and every other conjunct (`AND s.ts > t.ts`, the SCD idiom)
  * folds into the executor's full match condition as residue —
  * MATCHED means keys equal AND residue, NOT MATCHED (either
  * direction) quantifies over the full ON.
  * `WITH SCHEMA EVOLUTION` is served by the analyzer itself: the
  * table declares `AUTOMATIC_SCHEMA_EVOLUTION`, so Spark's
  * `ResolveMergeIntoSchemaEvolution` commits the source-new columns
  * through `alterTable` (the same nullable-ADD / family-widening
  * metadata commits `ALTER TABLE` makes) and re-resolves the merge
  * against the evolved schema before this rule lowers it.
  * UNCORRELATED subqueries in clause conditions / SET values ride as
  * held expressions and literalize at command time; correlated ones
  * stay a loud UnsupportedOperationException naming the USING-source
  * rewrite.
  *
  * Expressions are re-printed as predicate SQL (qualifiers stripped so
  * they resolve against the table's own frame) because the manifest
  * row-level API is SQL-string-native — that is what its stats pruning
  * parses. Subqueries cannot survive that seam; DELETE/UPDATE
  * predicates carrying them lower instead to the subquery commands:
  * UNCORRELATED shapes literalize at run time (bounded IN-list /
  * boolean / scalar), and CORRELATED `[NOT] EXISTS` / `IN` (plus
  * multi-column IN) decorrelate to the engine's source-key-pruned
  * semi/anti row ops ([[GraftDmlRule.correlatedLowering]]) — the
  * unbounded-key-set path, no driver collect.
  *
  * Injected as a RESOLUTION rule (same slot Delta intercepts MERGE at):
  * it fires the moment the command is fully resolved, before the
  * analyzer's row-level alignment machinery can object that the table
  * lacks `SupportsRowLevelOperations`.
  *
  * CDC: when the table property [[ManifestTable.ChangeFeedProperty]]
  * (`graft.enableChangeFeed = true`) is set, both verbs record their
  * CDC sidecars — so the change feed spans SQL mutations (Delta's
  * `enableChangeDataFeed` contract). Without it a later
  * `readChangeFeed` over the commit raises rather than drifting.
  */
class GraftDmlRule(session: SparkSession) extends Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case u: UpdateTable if u.resolved =>
      graftTarget(u.table).map(convertUpdate(u, _)).getOrElse(u)
    case m: MergeIntoTable if m.resolved =>
      graftTarget(m.targetTable).map(convertMerge(m, _)).getOrElse(m)
    // EVERY graft DELETE lowers here at resolution. The
    // SupportsDeleteV2 seam only carries V1-translatable filters — a
    // predicate with modulo/arithmetic/functions made `canDeleteWhere`
    // refuse and Spark ERROR rather than fall back (it would demand
    // the full SupportsRowLevelOperations stack). The command path
    // speaks the manifest's SQL-string predicates natively (same
    // stats-pruned deleteWhere destination the V2 seam reaches), so it
    // serves arbitrary predicates; conditions carrying subqueries
    // additionally literalize (uncorrelated) or decorrelate to the
    // source-key-pruned semi/anti row ops (correlated / multi-IN).
    // The V2 seam stays for API completeness (extension-less sessions).
    case d: DeleteFromTable if d.resolved =>
      graftTarget(d.table).map { t =>
        require(t.pinned.isEmpty,
          s"cannot DELETE from a time-travel pinned version of ${t.name()}")
        if (!d.condition.exists(_.isInstanceOf[PlanExpression[_]]))
          GraftDeleteSubqueryCommand(t.dir,
            GraftHeldCond(d.condition)): LogicalPlan
        else GraftDmlRule.correlatedLowering(d.condition,
          AttributeSet(d.table.output)) match {
          case Some(low) =>
            GraftDeleteCorrelatedCommand(t.dir, low.sourcePlan, low.keyCols,
              low.negated, low.residual.map(GraftHeldCond),
              low.valueCondSql): LogicalPlan
          case None =>
            GraftDeleteSubqueryCommand(t.dir,
              GraftHeldCond(d.condition)): LogicalPlan
        }
      }.getOrElse(d)
    // ALTER COLUMN ... SET NOT NULL: Spark's checker forbids
    // nullable→non-nullable outright (it cannot validate existing data
    // for an arbitrary table) — the manifest CAN, with one aggregate,
    // so pure SET NOT NULL statements on graft tables lower to the
    // engine's validated metadata commit before the checker objects
    // (DROP NOT NULL and COMMENT pass Spark's checks and take the
    // normal alterTable path)
    case ac @ AlterColumns(rt: org.apache.spark.sql.catalyst.analysis
        .ResolvedTable, specs)
        if rt.table.isInstanceOf[GraftTableV2] && specs.nonEmpty &&
          specs.forall(sp => sp.newNullability.contains(false) &&
            sp.newDataType.isEmpty && sp.newComment.isEmpty &&
            sp.newPosition.isEmpty && sp.newDefaultExpression.isEmpty &&
            !sp.dropDefault) =>
      GraftSetNotNullCommand(
        rt.table.asInstanceOf[GraftTableV2].dir,
        specs.map { sp =>
          require(sp.column.name.size == 1,
            "graft-manifest supports top-level SET NOT NULL only, got " +
              sp.column.name.mkString("."))
          sp.column.name.head
        })
    case other => other
  }

  /** The target, unwrapped to its catalog table — None for non-graft
    * targets (Spark's own machinery then reports its own unsupported).
    */
  private def graftTarget(plan: LogicalPlan): Option[GraftTableV2] =
    plan match {
      case SubqueryAlias(_, child) => graftTarget(child)
      case r: DataSourceV2Relation =>
        r.table match {
          case t: GraftTableV2 => Some(t)
          case _ => None
        }
      case _ => None
    }

  /** Resolved expression → predicate SQL the manifest API can re-parse
    * against the bare table frame: qualifiers dropped (the frame has
    * none), subqueries rejected (they cannot cross the string seam —
    * conditions that carry them lower to the subquery commands, which
    * literalize first).
    */
  private def sqlOf(e: Expression): String = {
    if (e.exists(_.isInstanceOf[PlanExpression[_]]))
      throw new UnsupportedOperationException(
        "graft-manifest UPDATE/MERGE does not support subqueries in " +
          s"SET expressions or MERGE clauses (got: ${e.sql}) — fold the " +
          "subquery into the USING source query (a join or computed " +
          "column there expresses the same condition)")
    GraftDmlRule.predicateSql(e)
  }

  private def convertUpdate(u: UpdateTable,
                            table: GraftTableV2): LogicalPlan = {
    require(table.pinned.isEmpty,
      s"cannot UPDATE a time-travel pinned version of ${table.name()}")
    // identity assignments appear when the analyzer has pre-aligned the
    // command (one assignment per column); only real changes travel.
    // Struct-FIELD assignments (SET meta.lang = x) decompose to (root,
    // path) and rebuild the whole top-level column as one projection
    val rawSets: Seq[(AttributeReference, Seq[String], Expression)] =
      u.assignments.flatMap { a =>
        val (root, path) = GraftDmlRule.assignmentPath(a.key)
        if (path.isEmpty && a.value.semanticEquals(a.key)) None
        else Some((root, path, a.value))
      }
    if (rawSets.isEmpty)
      throw new UnsupportedOperationException(
        "UPDATE with no effective SET assignment")
    // SET values carrying subqueries: UNCORRELATED ones literalize at
    // run time (the everyday `SET n = (SELECT max(k) FROM s)` idiom),
    // whole-column targets only — a struct-field rebuild around a
    // runtime literal would need deferred SQL assembly for a shape
    // nobody writes; correlated ones stay a loud no (fold into MERGE's
    // USING source)
    val (subqSets, plainSets) = rawSets.partition(
      _._3.exists(_.isInstanceOf[PlanExpression[_]]))
    subqSets.foreach { case (root, path, _) =>
      if (path.nonEmpty)
        throw new UnsupportedOperationException(
          "subquery SET values are supported for whole-column targets " +
            s"only (got struct field ${root.name}.${path.mkString(".")})" +
            " — split the statement")
      if (plainSets.exists(_._1.name.equalsIgnoreCase(root.name)))
        throw new UnsupportedOperationException(
          s"UPDATE assigns column ${root.name} more than once")
    }
    // two subquery SET values targeting one column are the same
    // duplicate as a plain pair — reject them against each other too
    subqSets.map(_._1.name.toLowerCase).groupBy(identity).collect {
      case (n, vs) if vs.size > 1 => n
    }.headOption.foreach(n => throw new UnsupportedOperationException(
      s"UPDATE assigns column $n more than once"))
    // CORRELATED scalar subquery SET values — the everyday enrichment
    // idiom `SET v = (SELECT s.v FROM s WHERE s.k = t.k)` — lower to
    // the source-key-joined merge path (see convertUpdateScalarSet);
    // uncorrelated ones literalize at run time
    val (corrSets, heldSubqSets) = subqSets.partition(_._3.exists {
      case s: SubqueryExpression => s.getOuterAttrs.nonEmpty
      case _ => false
    })
    // one SET entry per ROOT column, in first-appearance order; the
    // value printer differs per lowering path (bare frame vs the merge
    // executor's __t_ namespace)
    def buildSets(print: Expression => String,
                  base: String => String): Seq[(String, String)] = {
      val roots = plainSets.map(_._1.name).distinct
      roots.map { rn =>
        val group = plainSets.filter(_._1.name == rn)
        val root = group.head._1
        if (group.exists(_._2.isEmpty)) {
          require(group.size == 1,
            s"UPDATE assigns column $rn more than once (whole-column " +
              "and field assignments cannot mix)")
          rn -> print(group.head._3)
        } else root.dataType match {
          case st: org.apache.spark.sql.types.StructType =>
            rn -> GraftDmlRule.structRebuildSql(base(rn), st,
              group.map(g => (g._2, print(g._3))))
          case other => throw new IllegalStateException(
            s"field path on non-struct column $rn (${other.simpleString})")
        }
      }
    }
    def qid(n: String) = "`" + n.replace("`", "``") + "`"
    val heldSets = heldSubqSets.map(r => r._1.name -> GraftHeldCond(r._3))
    // correlated scalar SET values: the dedicated lowering (one merge
    // source per statement; static sets re-printed into its namespace)
    if (corrSets.nonEmpty)
      return convertUpdateScalarSet(u, table, corrSets,
        buildSets(v => GraftDmlRule.prefixedSql(v, "__t_"),
          n => qid("__t_" + n)),
        heldSets)
    // a WHERE carrying a subquery lowers to the literalizing command —
    // unless it is a CORRELATED EXISTS/IN (or multi-column IN), which
    // lowers to the source-key-pruned merge path instead (whose SET
    // expressions must stay subquery-free: the source query is the
    // place to compute joined values)
    if (u.condition.exists(_.exists(_.isInstanceOf[PlanExpression[_]]))) {
      GraftDmlRule.correlatedLowering(u.condition.get,
        AttributeSet(u.table.output)) match {
        case Some(low) =>
          if (subqSets.nonEmpty)
            throw new UnsupportedOperationException(
              "an UPDATE with a correlated WHERE cannot also carry " +
                "subquery SET values — compute the value in a MERGE's " +
                "USING source instead")
          // SET values re-printed into the merge executor's __t_
          // namespace (they reference target columns only)
          return GraftUpdateCorrelatedCommand(table.dir, low.sourcePlan,
            low.keyCols, low.negated, low.residual.map(GraftHeldCond),
            buildSets(v => GraftDmlRule.prefixedSql(v, "__t_"),
              n => qid("__t_" + n)),
            low.valueCondSql)
        case None =>
          return GraftUpdateSubqueryCommand(table.dir,
            GraftHeldCond(u.condition.get),
            buildSets(sqlOf, qid).toMap, heldSets)
      }
    }
    // subquery-free WHERE (or none) but subquery SET values: same
    // literalizing command, condition pre-printed
    if (subqSets.nonEmpty)
      return GraftUpdateSubqueryCommand(table.dir,
        GraftHeldCond(u.condition.getOrElse(
          org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral)),
        buildSets(sqlOf, qid).toMap, heldSets)
    val cond = u.condition.map(sqlOf).getOrElse("true")
    GraftUpdateCommand(table.dir, cond, buildSets(sqlOf, qid).toMap)
  }

  /** `UPDATE t SET v = (SELECT ... FROM s WHERE s.k = t.k) WHERE p` —
    * the everyday enrichment idiom — lowered through the same
    * decorrelation machinery as correlated WHERE predicates: the scalar
    * subquery's plan becomes the MERGE source frame (correlation keys
    * aliased to the target key names, the scalar value projected as
    * [[GraftDmlRule.ScalarValueCol]]), consumed by one `WHEN MATCHED
    * THEN UPDATE SET v = __s_<value>` clause plus one `WHEN NOT MATCHED
    * BY SOURCE THEN UPDATE SET v = <NULL-substituted value>` clause.
    * SQL semantics, both pinned by spec:
    *
    *   - NO MATCH: the scalar subquery evaluates to NULL for that row,
    *     so the NMBS clause re-evaluates the full SET value with the
    *     subquery slot nulled — `SET v = coalesce((SELECT ...), -1)`
    *     null-fills to -1, a bare subquery to NULL;
    *   - MULTIPLE MATCHES with distinct values: the merge executor's
    *     clause-aware cardinality probe RAISES (the scalar subquery
    *     "more than one row" error; exact duplicates collapse in the
    *     source distinct, which SQL cannot observe — equal scalars are
    *     equal);
    *   - rows failing the WHERE never evaluate the subquery (clause
    *     conditions guard both clauses), and the WHERE doubles as the
    *     candidate SCOPE predicate, so the NMBS full-table quantifier
    *     still prunes to the files whose stats can satisfy it.
    *
    * An aggregate at the subquery root (`SET v = (SELECT max(x) ...)`)
    * lowers by grouping the decorrelated frame on the correlation keys
    * — legal only for NULL-on-empty aggregates (max/min/sum/avg/first/
    * last); count()-style aggregates answer 0 on no match, which the
    * group-by cannot represent, and stay a loud rejection.
    */
  private def convertUpdateScalarSet(u: UpdateTable, table: GraftTableV2,
      corrSets: Seq[(AttributeReference, Seq[String], Expression)],
      staticSets: Seq[(String, String)],
      heldSets: Seq[(String, GraftHeldCond)]): LogicalPlan = {
    if (corrSets.size > 1)
      throw new UnsupportedOperationException(
        "one correlated subquery SET value per UPDATE — split the " +
          "statement (each statement decorrelates to one source frame)")
    val (root, _, vExpr) = corrSets.head
    // one decorrelated source per verb: a WHERE that is itself
    // correlated (or a multi-column IN) would need a second one
    u.condition.foreach { c =>
      val alsoCorr = c.exists {
        case s: SubqueryExpression => s.getOuterAttrs.nonEmpty
        case in: InSubquery => in.values.size > 1
        case _ => false
      }
      if (alsoCorr) throw new UnsupportedOperationException(
        "an UPDATE with a correlated subquery SET value cannot also " +
          "carry a correlated (or multi-column IN) WHERE conjunct — " +
          "fold the WHERE into the SET subquery, or rewrite as MERGE")
    }
    val subqs = vExpr.collect { case p: PlanExpression[_] => p }
    val scalars = vExpr.collect {
      case s: ScalarSubquery if s.getOuterAttrs.nonEmpty => s }
    if (scalars.size != 1 || subqs.size != 1)
      throw new UnsupportedOperationException(
        "a correlated SET value must be built around exactly ONE " +
          "correlated SCALAR subquery and no other subquery (got: " +
          s"${vExpr.sql}) — compute richer shapes in a MERGE's USING " +
          "source")
    val sq = scalars.head
    val low = GraftDmlRule.scalarSubqueryLowering(sq,
      AttributeSet(u.table.output))
    // the SET value re-printed into the merge executor's namespace,
    // with the subquery slot replaced by the source value column
    // (matched) or a typed NULL (not matched by source)
    def valueSql(repl: Expression): String = vExpr.transformUp {
      case _: ScalarSubquery => repl
      case org.apache.spark.sql.catalyst.expressions.objects
          .AssertNotNull(child, _) => child
      case a: AttributeReference =>
        a.withName("__t_" + a.name).withQualifier(Nil)
      case f if GraftDmlRule.evaluablyFoldable(f) =>
        org.apache.spark.sql.catalyst.expressions.Literal
          .create(f.eval(InternalRow.empty), f.dataType)
    }.sql
    val matchedVal = valueSql(AttributeReference(
      "__s_" + GraftDmlRule.ScalarValueCol, sq.dataType)())
    val nmbsVal = valueSql(org.apache.spark.sql.catalyst.expressions
      .Literal.create(null, sq.dataType))
    GraftUpdateScalarSetCommand(table.dir, low.sourcePlan, low.keyCols,
      root.name, matchedVal, nmbsVal, staticSets, heldSets,
      u.condition.map(GraftHeldCond))
  }

  private def convertMerge(m: MergeIntoTable,
                           table: GraftTableV2): LogicalPlan = {
    require(table.pinned.isEmpty,
      s"cannot MERGE into a time-travel pinned version of ${table.name()}")
    def unsupported(what: String): Nothing =
      throw new UnsupportedOperationException(
        s"graft-manifest MERGE: $what")
    // WITH SCHEMA EVOLUTION never reaches this rule un-served: the
    // table declares AUTOMATIC_SCHEMA_EVOLUTION, so the analyzer's
    // ResolveMergeIntoSchemaEvolution has already committed the
    // source-new columns (alterTable AddColumn, nullable) and
    // re-resolved the command against the evolved schema — this rule
    // lowers the aligned merge like any other
    val targetOut = AttributeSet(m.targetTable.output)
    val sourceOut = AttributeSet(m.sourceTable.output)

    def sideName(e: Expression, side: AttributeSet): Option[String] =
      e match {
        case a: AttributeReference if side.contains(a) => Some(a.name)
        case Alias(a: AttributeReference, _) if side.contains(a) =>
          Some(a.name)
        case _ => None
      }

    // split the ON condition: target/source column equalities (ANY
    // names — `ON t.id = s.src_id` works) become the file-pruning keys;
    // every other conjunct (non-equi `AND s.ts > t.ts`, target-only or
    // source-only predicates, a second equality on an already-keyed
    // target column) is RESIDUE that folds into the executor's full
    // match condition. At least one equality must remain — it is the
    // pruning proof.
    val (keyPairs, residue) = splitConjunctivePredicates(m.mergeCondition)
      .foldLeft((Seq.empty[(String, String)], Seq.empty[Expression])) {
        case ((pairs, res), conj) =>
          val pair = conj match {
            case EqualTo(l, r) =>
              (sideName(l, targetOut), sideName(r, sourceOut),
                sideName(r, targetOut), sideName(l, sourceOut)) match {
                case (Some(t), Some(s), _, _) => Some(t -> s)
                case (_, _, Some(t), Some(s)) => Some(t -> s)
                case _ => None
              }
            case _ => None
          }
          pair match {
            case Some((t, s))
                if !pairs.exists(_._1.equalsIgnoreCase(t)) =>
              (pairs :+ (t -> s), res)
            case _ => (pairs, res :+ conj)
          }
      }
    // No equality pair at all (a THETA merge — `ON t.id BETWEEN s.lo
    // AND s.hi`): served by the general path with the whole ON as
    // residue and FULL-SCOPE candidates (no key stat can bound a
    // non-equi match; Delta pays the same full scan). The cardinality
    // rules are unchanged — overlapping source ranges that both fire a
    // matched clause on one target row still raise.
    val keyCols = keyPairs.map(_._1)
    val sameNamedKeys = residue.isEmpty &&
      keyPairs.forall { case (t, s) => t.equalsIgnoreCase(s) }

    // is `assignments` the full-row same-named-source-column shape the
    // engine's fast upsert performs? (key columns may ride on ON)
    def isStarShape(assignments: Seq[Assignment],
                    keysImplicit: Boolean): Boolean = {
      val assigned = assignments.flatMap { a =>
        (a.key, a.value) match {
          case (k: AttributeReference, v: AttributeReference)
              if sourceOut.contains(v) && v.name.equalsIgnoreCase(k.name) =>
            Some(k.name.toLowerCase)
          case _ => None
        }
      }.toSet
      assigned.size == assignments.size &&
        m.targetTable.output.map(_.name)
          .filterNot(n => assigned.contains(n.toLowerCase))
          .forall(n => keysImplicit && keyCols.exists(_.equalsIgnoreCase(n)))
    }

    // FAST PATHS — the engine's specialized row ops (full-row upsert;
    // tombstone apply), bit-identical semantics, leaner plans; they
    // speak same-named keys and no residue, so richer ON shapes take
    // the general path
    if (sameNamedKeys) (m.matchedActions, m.notMatchedActions,
      m.notMatchedBySourceActions) match {
      case (Seq(DeleteAction(None)), Seq(), Seq()) =>
        return GraftMergeDeleteCommand(table.dir, m.sourceTable, keyCols)
      case (Seq(UpdateAction(None, up, _)), Seq(InsertAction(None, ins)),
            Seq())
          if isStarShape(up, keysImplicit = true) &&
            isStarShape(ins, keysImplicit = false) =>
        return GraftMergeCommand(table.dir, m.sourceTable, keyCols)
      case _ => ()
    }

    // GENERAL PATH — arbitrary clause algebra lowered to
    // [[ManifestTable.mergeGeneral]]. Expressions are re-printed into
    // the executor's prefixed namespace (`__t_<col>` target, `__s_<col>`
    // source) — sides decided HERE, by the analyzer's resolution, so
    // shared column names can never cross-bind in the re-parse.
    // Expressions carrying UNCORRELATED subqueries cannot print yet
    // (subqueries execute when the DML executes): they are RENAMED into
    // the prefix namespace now (a pure tree transform — the analyzer's
    // side decision survives) and HELD for the command to literalize
    // and print at run time. Correlated ones stay a loud no: compute
    // the per-row value in the USING source.
    def prefixedRename(e: Expression): Expression =
      GraftDmlRule.transformUpWithParameters(e) {
        case org.apache.spark.sql.catalyst.expressions.objects
            .AssertNotNull(child, _) => child
        case a: AttributeReference if targetOut.contains(a) =>
          a.withName("__t_" + a.name).withQualifier(Nil)
        case a: AttributeReference if sourceOut.contains(a) =>
          a.withName("__s_" + a.name).withQualifier(Nil)
      }
    def prefixed(e: Expression): String = {
      if (e.exists(_.isInstanceOf[PlanExpression[_]]))
        unsupported("subqueries in MERGE conditions or SET expressions " +
          s"are not supported here (got: ${e.sql})")
      GraftDmlRule.transformUpWithParameters(e) {
        case org.apache.spark.sql.catalyst.expressions.objects
            .AssertNotNull(child, _) => child
        case a: AttributeReference if targetOut.contains(a) =>
          a.withName("__t_" + a.name).withQualifier(Nil)
        case a: AttributeReference if sourceOut.contains(a) =>
          a.withName("__s_" + a.name).withQualifier(Nil)
        case f if GraftDmlRule.evaluablyFoldable(f) =>
          org.apache.spark.sql.catalyst.expressions.Literal
            .create(f.eval(InternalRow.empty), f.dataType)
      }.sql
    }
    def holdOrPrint(e: Expression,
                    what: String): Either[String, GraftHeldCond] =
      if (!e.exists(_.isInstanceOf[PlanExpression[_]])) Left(prefixed(e))
      else {
        e.foreach {
          case s: SubqueryExpression if s.getOuterAttrs.nonEmpty =>
            unsupported(s"$what carries a CORRELATED subquery (got: " +
              s"${e.sql}) — compute the per-row value in the USING " +
              "source query instead")
          case _ => ()
        }
        Right(GraftHeldCond(prefixedRename(e)))
      }
    // UPDATE SET assignments: whole columns, or struct FIELDS (SET
    // meta.lang = x) rebuilt as one top-level projection in the
    // executor's __t_ namespace — same decomposition as SQL UPDATE
    def assignsOf(assignments: Seq[Assignment], verb: String)
    : Seq[(String, Either[String, GraftHeldCond])] = {
      val raw = assignments.flatMap { a =>
        val (root, path) = a.key match {
          case attr: AttributeReference => (attr, Nil)
          case other =>
            try GraftDmlRule.assignmentPath(other)
            catch { case e: UnsupportedOperationException =>
              unsupported(s"$verb: ${e.getMessage}") }
        }
        // analyzer-aligned identity assignments (c = t.c) carry no
        // change; dropping them keeps the partial-SET list honest
        if (path.isEmpty && (a.value match {
          case v: AttributeReference =>
            targetOut.contains(v) && v.name.equalsIgnoreCase(root.name)
          case _ => false
        })) None
        else Some((root, path, a.value))
      }
      // subquery-carrying values cross the seam whole-column only: a
      // struct-field rebuild around a run-time literal would need
      // deferred SQL assembly for a shape nobody writes
      raw.foreach { case (root, path, v) =>
        if (path.nonEmpty && v.exists(_.isInstanceOf[PlanExpression[_]]))
          unsupported(s"$verb: subquery SET values are supported for " +
            "whole-column targets only (got struct field " +
            s"${root.name}.${path.mkString(".")}) — split the statement")
      }
      raw.map(_._1.name).distinct.map { rn =>
        val group = raw.filter(_._1.name == rn)
        val root = group.head._1
        if (group.exists(_._2.isEmpty)) {
          if (group.size != 1) unsupported(
            s"$verb assigns column $rn more than once (whole-column " +
              "and field assignments cannot mix)")
          rn -> holdOrPrint(group.head._3, s"$verb SET value")
        } else root.dataType match {
          case st: org.apache.spark.sql.types.StructType =>
            rn -> (Left(GraftDmlRule.structRebuildSql(
              GraftDmlRule.qid("__t_" + root.name), st,
              group.map(g => (g._2, prefixed(g._3)))))
              : Either[String, GraftHeldCond])
          case other => unsupported(
            s"$verb field path on non-struct column $rn " +
              s"(${other.simpleString})")
        }
      }
    }
    def clauseOf(a: MergeAction, verb: String): GraftClause =
      a match {
        case UpdateAction(cond, assignments, _) =>
          GraftClause("update",
            cond.map(holdOrPrint(_, s"$verb condition")),
            assignsOf(assignments, verb))
        case DeleteAction(cond) =>
          GraftClause("delete",
            cond.map(holdOrPrint(_, s"$verb condition")), Nil)
        case InsertAction(cond, assignments) =>
          GraftClause("insert",
            cond.map(holdOrPrint(_, s"$verb condition")),
            assignments.map { asg =>
              val col = asg.key match {
                case attr: AttributeReference => attr.name
                case other => unsupported(
                  s"$verb assigns a non-column target: ${other.sql}")
              }
              col -> holdOrPrint(asg.value, s"$verb VALUES entry")
            })
        case other =>
          unsupported(s"$verb action ${other.getClass.getSimpleName} " +
            "is not supported")
      }

    GraftMergeGeneralCommand(table.dir, m.sourceTable, keyCols,
      m.matchedActions.map(clauseOf(_, "WHEN MATCHED")),
      m.notMatchedActions.map(clauseOf(_, "WHEN NOT MATCHED")),
      m.notMatchedBySourceActions.map(
        clauseOf(_, "WHEN NOT MATCHED BY SOURCE")),
      sourceKeyCols = keyPairs.map(_._2),
      residue =
        if (residue.isEmpty) None
        else Some(holdOrPrint(residue.reduce(
          org.apache.spark.sql.catalyst.expressions.And(_, _)),
          "the MERGE ON condition")))
  }
}

object GraftDmlRule {
  /** Foldable AND safe to constant-fold at RESOLUTION time: an
    * `Unevaluable` descendant (current_timestamp(), current_date(),
    * current_user(), ...) is foldable yet only substituted by the
    * optimizer's finish-analysis batch — eval here would crash with
    * Spark's internal "Cannot evaluate expression". Those round-trip
    * as SQL text instead and re-evaluate in the rewrite query.
    */
  private[plans] def evaluablyFoldable(f: Expression): Boolean =
    f.foldable &&
      !f.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal] &&
      !f.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.Unevaluable])

  /** `e.transformUp(rule)`, also applied to the `parameters` of
    * [[org.apache.spark.sql.catalyst.expressions.InheritAnalysisRules]]
    * nodes (BETWEEN, nvl, ...): they print `.sql` from those
    * parameters, which are not children, so a plain transform leaves
    * their qualified attributes and unliteralized subqueries in the
    * printed SQL.
    */
  private[plans] def transformUpWithParameters(e: Expression)(
      rule: PartialFunction[Expression, Expression]): Expression =
    e.transformUp(rule.orElse {
      case r: org.apache.spark.sql.catalyst.expressions.InheritAnalysisRules =>
        val params = r.parameters
        r.makeCopy(r.productIterator.map {
          case p: Expression if params.exists(_ eq p) =>
            transformUpWithParameters(p)(rule)
          case other => other.asInstanceOf[AnyRef]
        }.toArray)
    })

  /** Resolved, subquery-free expression → predicate SQL the manifest
    * row-level API re-parses against the bare table frame: qualifiers
    * dropped, analyzer casts of literals folded back so stats pruning
    * still matches.
    */
  private[plans] def predicateSql(e: Expression): String =
    transformUpWithParameters(e) {
      case a: AttributeReference => a.withQualifier(Nil)
      // the analyzer wraps assignments to non-nullable columns in
      // AssertNotNull, which has no SQL spelling — strip it; the
      // engine's own NOT NULL pass enforces the same contract with a
      // proper message
      case org.apache.spark.sql.catalyst.expressions.objects
          .AssertNotNull(child, _) => child
      // fold analyzer-inserted casts of literals (CAST(100 AS BIGINT))
      // back into typed literals — the stats pruner matches bare
      // literals, and an unfolded cast would silently cost the rewrite
      // its file pruning
      case f if evaluablyFoldable(f) =>
        org.apache.spark.sql.catalyst.expressions.Literal
          .create(f.eval(InternalRow.empty), f.dataType)
    }.sql

  /** Resolved, subquery-free expression re-printed into a prefixed
    * namespace (`__t_<col>` — the general-merge executor's target
    * frame): same folding and AssertNotNull stripping as
    * [[predicateSql]], with every attribute renamed.
    */
  private[plans] def prefixedSql(e: Expression, prefix: String): String =
    transformUpWithParameters(e) {
      case org.apache.spark.sql.catalyst.expressions.objects
          .AssertNotNull(child, _) => child
      case a: AttributeReference =>
        a.withName(prefix + a.name).withQualifier(Nil)
      case f if evaluablyFoldable(f) =>
        org.apache.spark.sql.catalyst.expressions.Literal
          .create(f.eval(InternalRow.empty), f.dataType)
    }.sql

  /** An UPDATE assignment key decomposed to its root column and
    * struct-field path: `meta` → (meta, []), `meta.lang` → (meta,
    * [lang]), `a.b.c` → (a, [b, c]). Array/map element targets are a
    * loud no — positional rewrites inside containers are not a column
    * projection.
    */
  private[plans] def assignmentPath(e: Expression)
  : (AttributeReference, Seq[String]) = e match {
    case a: AttributeReference => (a, Nil)
    case g: org.apache.spark.sql.catalyst.expressions.GetStructField =>
      val (a, p) = assignmentPath(g.child)
      (a, p :+ g.extractFieldName)
    case other => throw new UnsupportedOperationException(
      "graft-manifest UPDATE sets top-level columns or struct FIELDS " +
        s"only (got ${other.sql}; array/map element updates are not " +
        "supported)")
  }

  private[plans] def qid(n: String): String =
    "`" + n.replace("`", "``") + "`"

  /** The SQL that rebuilds a struct-typed column with `sets` (relative
    * field path → value SQL) applied and every other field preserved
    * from the OLD row — how `UPDATE t SET meta.lang = x` crosses the
    * engine's SQL-string seam as a single top-level projection.
    * Semantics match Spark's `Column.withField`: a NULL struct stays
    * NULL (there is no row-part to update), never sprouts a
    * half-filled struct.
    */
  private[plans] def structRebuildSql(
      baseSql: String, st: org.apache.spark.sql.types.StructType,
      sets: Seq[(Seq[String], String)]): String = {
    val parts = st.fields.map { f =>
      val here = sets.filter(_._1.head.equalsIgnoreCase(f.name))
      val v =
        if (here.isEmpty) s"$baseSql.${qid(f.name)}"
        else if (here.exists(_._1.size == 1)) {
          require(here.size == 1,
            s"UPDATE assigns struct field ${f.name} more than once " +
              "(or both the field and a sub-field)")
          here.head._2
        } else f.dataType match {
          case nst: org.apache.spark.sql.types.StructType =>
            structRebuildSql(s"$baseSql.${qid(f.name)}", nst,
              here.map { case (p, sql) => (p.tail, sql) })
          case other => throw new UnsupportedOperationException(
            s"UPDATE path descends into ${other.simpleString} at field " +
              s"${f.name} — only struct fields are assignable")
        }
      s"'${f.name.replace("'", "''")}', $v"
    }
    s"CASE WHEN $baseSql IS NULL THEN NULL " +
      s"ELSE named_struct(${parts.mkString(", ")}) END"
  }

  /** A DML predicate's correlated-subquery conjunct lowered to a
    * SEMI/ANTI-JOIN spec: `sourcePlan` projects the subquery's join
    * keys ALIASED TO THE TARGET KEY NAMES (`keyCols`), `negated` marks
    * `NOT EXISTS` (anti), and `residual` carries the remaining plain
    * conjuncts (which may still hold UNCORRELATED subqueries — the
    * command literalizes them at run time).
    */
  /** `valueCondSql`, when set, marks the SCALAR-COMPARISON shape
    * (`WHERE n < (SELECT max(x) ... WHERE s.k = t.k)`): the source
    * frame additionally projects the scalar as [[ScalarValueCol]], and
    * this pre-printed condition (slot replaced by `__s_<value>`,
    * targets `__t_`-renamed) guards the single MATCHED clause. Rows
    * with no key match never enter a matched clause — exactly SQL's
    * NULL-comparison filtering, proven by the slot-null-rejection
    * check at detection.
    */
  private[plans] final case class CorrLowering(sourcePlan: LogicalPlan,
                                               keyCols: Seq[String],
                                               negated: Boolean,
                                               residual: Option[Expression],
                                               valueCondSql: Option[String] = None)

  /** Detect and lower the correlated-subquery shapes a graft DML
    * predicate supports — the everyday dedup/GC idioms:
    *
    *   - `[NOT] EXISTS (SELECT ... WHERE s.k = t.k [AND local])`
    *   - `t.k IN (SELECT k FROM ... [WHERE s.j = t.j AND local])`
    *   - `(a, b) IN (SELECT x, y ...)` (multi-column, correlated or not
    *     — the literalizer is single-column by design, the join is not)
    *
    * The correlation must be EQUALITY between a bare target column and
    * a subquery-side expression, sitting in Filter(s) under only
    * Project/Filter/SubqueryAlias operators — exactly the shapes that
    * are a semi/anti join by construction. The equalities become the
    * join keys: the subquery plan is rebuilt with them REMOVED and the
    * inner key expressions projected out under the target column
    * names, so the command can hand it to the engine's source-key-
    * pruned row ops (`deleteMatching` / `mergeGeneral`) — no driver
    * collect, no key-count bound, candidates pruned by the source's
    * own keys. `None` = no routed conjunct (caller literalizes);
    * unsupported correlated shapes raise loudly HERE, at analysis,
    * with the rewrite that works.
    *
    * `NOT IN (subquery)` routes only under a STATIC no-NULL proof on
    * both sides (see the case) — its three-valued NULL semantics (one
    * NULL key vetoes every row) are not an anti-join otherwise; the
    * raise names the IS NOT NULL conjuncts and NOT EXISTS as rewrites.
    */
  /** [[org.apache.spark.sql.catalyst.expressions.PredicateHelper]]'s
    * conjunct splitter, surfaced for the object-level helpers (the
    * trait keeps it protected).
    */
  private object PH
      extends org.apache.spark.sql.catalyst.expressions.PredicateHelper {
    def split(e: Expression): Seq[Expression] =
      splitConjunctivePredicates(e)
  }

  private[plans] def correlatedLowering(cond: Expression,
                                        targetOut: AttributeSet)
  : Option[CorrLowering] = {
    def unsupported(what: String): Nothing =
      throw new UnsupportedOperationException(s"graft DML predicates: $what")
    def corr(e: Expression): Boolean = e.exists {
      case s: SubqueryExpression => s.getOuterAttrs.nonEmpty
      case _ => false
    }
    def multiIn(e: Expression): Boolean = e.exists {
      case in: InSubquery => in.values.size > 1
      case _ => false
    }
    val conjuncts = PH.split(cond)
    val (routed, rest) = conjuncts.partition(c => corr(c) || multiIn(c))
    if (routed.isEmpty) return None
    if (routed.size > 1) unsupported(
      "at most one correlated (or multi-column IN) subquery conjunct " +
        s"is supported per predicate, got ${routed.size} — split the " +
        "statement, or fold the conditions into one subquery")
    val residual = rest.reduceOption(
      org.apache.spark.sql.catalyst.expressions.And(_, _))
    def valuePairs(in: InSubquery): Seq[(String, NamedExpression)] =
      in.values.zip(in.query.plan.output).map {
        case (a: AttributeReference, out) if targetOut.contains(a) =>
          a.name -> out
        case (other, _) => unsupported(
          s"IN (subquery) values must be bare target columns to lower " +
            s"to the key-pruned join (got: ${other.sql}) — alias the " +
            "expression inside the subquery instead")
      }
    // the SCALAR-COMPARISON shape: one correlated scalar subquery under
    // null-propagating comparisons/arithmetic — `WHERE n < (SELECT
    // max(x) FROM s WHERE s.k = t.k)`. Lowered through the same
    // decorrelation as SET values: the scalar becomes a source column,
    // the conjunct becomes the MATCHED clause condition, and no-match
    // rows are simply never matched — which is exactly SQL's three-
    // valued filtering PROVIDED a slot NULL cannot make the conjunct
    // true (the allowlist walk below; an OR or COALESCE around the
    // slot would resurrect no-match rows and stays a loud no).
    locally {
      val head = routed.head
      val scalars = head.collect {
        case s: ScalarSubquery if s.getOuterAttrs.nonEmpty => s }
      val allSubqs = head.collect { case p: PlanExpression[_] => p }
      if (scalars.size == 1 && allSubqs.size == 1 &&
          !head.isInstanceOf[Exists] && !head.isInstanceOf[InSubquery]) {
        import org.apache.spark.sql.catalyst.expressions.{BinaryArithmetic, BinaryComparison, Cast, EqualNullSafe, UnaryMinus}
        def slotPathOk(e: Expression): Boolean = e match {
          case _: ScalarSubquery => true
          // <=> is a BinaryComparison but NOT null-propagating: a
          // no-match row's NULL slot makes `n <=> NULL` TRUE when n is
          // NULL, i.e. SQL would delete that row while the no-match
          // lowering (never matched) silently leaves it — exactly the
          // miss case this allowlist exists to exclude (ADVICE r20 #2)
          case _: EqualNullSafe => false
          case _: BinaryComparison | _: BinaryArithmetic | _: UnaryMinus |
               _: Cast | _: Not =>
            e.children.filter(_.exists(_.isInstanceOf[ScalarSubquery]))
              .forall(slotPathOk)
          case _ => false
        }
        if (!slotPathOk(head)) unsupported(
          "a correlated scalar subquery may sit only under " +
            "null-propagating comparisons/arithmetic in a predicate " +
            s"(got: ${head.sql}) — a no-match row's NULL must make the " +
            "conjunct non-true, exactly SQL's filtering; OR/COALESCE " +
            "around the subquery changes that, rewrite as MERGE")
        val sq = scalars.head
        val low = scalarSubqueryLowering(sq, targetOut)
        val condSql = head.transformUp {
          case _: ScalarSubquery =>
            AttributeReference("__s_" + ScalarValueCol, sq.dataType)()
          case org.apache.spark.sql.catalyst.expressions.objects
              .AssertNotNull(child, _) => child
          case a: AttributeReference if targetOut.contains(a) =>
            a.withName("__t_" + a.name).withQualifier(Nil)
          case f if evaluablyFoldable(f) =>
            org.apache.spark.sql.catalyst.expressions.Literal
              .create(f.eval(InternalRow.empty), f.dataType)
        }.sql
        return Some(CorrLowering(low.sourcePlan, low.keyCols,
          negated = false, residual, valueCondSql = Some(condSql)))
      }
    }
    val (negated, plan0, pairs0) = routed.head match {
      case ex: Exists => (false, ex.plan, Nil)
      case Not(ex: Exists) => (true, ex.plan, Nil)
      case in: InSubquery => (false, in.query.plan, valuePairs(in))
      // NOT IN lowers to the anti join ONLY under a STATIC no-NULL
      // proof on both sides — SQL's three-valued semantics make one
      // NULL inner key veto every row, and a NULL outer value never
      // TRUE, neither of which a plain anti join expresses. The proof:
      //   - each outer value is a non-nullable target column, or the
      //     predicate carries its own `col IS NOT NULL` conjunct (that
      //     conjunct rides the residual, so the veto rows stay
      //     untouched exactly as SQL leaves them);
      //   - each subquery output is non-nullable, or an alias of a
      //     column some subquery Filter pins with IS NOT NULL.
      // With the proof in hand NOT IN *is* the anti join (rows with no
      // key match — including rows whose correlation key matches no
      // group, where NOT IN over the empty set is TRUE — fire).
      case Not(in: InSubquery) =>
        val pairs = valuePairs(in)
        in.values.foreach {
          case a: AttributeReference if a.nullable &&
              !rest.exists {
                case IsNotNull(x: AttributeReference) => x.semanticEquals(a)
                case _ => false
              } =>
            unsupported(
              s"NOT IN over nullable target column ${a.name}: a NULL " +
                "value is never deleted (three-valued semantics), " +
                "which the anti-join lowering cannot express — add " +
                s"`AND ${a.name} IS NOT NULL` to the predicate, " +
                "declare the column NOT NULL, or rewrite as NOT EXISTS")
          case _ => ()
        }
        in.query.plan.output.foreach { o =>
          if (!provablyNonNull(in.query.plan, o)) unsupported(
            s"NOT IN subquery output ${o.name} may be NULL — one NULL " +
              "key vetoes every row (three-valued semantics), which " +
              "the anti-join lowering cannot express; filter it with " +
              s"`WHERE ${o.name} IS NOT NULL` inside the subquery, or " +
              "rewrite as NOT EXISTS")
        }
        (true, in.query.plan, pairs)
      case other => unsupported(
        "a correlated subquery may appear only as a bare [NOT] EXISTS " +
          s"or IN conjunct (got: ${other.sql})")
    }
    val (rebuilt, corrPairs) = decorrelate(plan0, targetOut, unsupported)
    val pairs = pairs0 ++ corrPairs
    if (pairs.isEmpty) unsupported(
      "EXISTS with no equality correlation to the target is a constant " +
        "predicate per statement — it belongs in the uncorrelated " +
        "literalizer, not here (this is a bug if you see it)")
    pairs.map(_._1.toLowerCase).groupBy(identity).collect {
      case (k, vs) if vs.size > 1 => k
    }.headOption.foreach(k => unsupported(
      s"target column $k is correlated more than once — drop the " +
        "redundant equality or fold it into the subquery"))
    val src = Project(
      pairs.map { case (name, ne) =>
        Alias(ne.toAttribute, name)(): NamedExpression },
      rebuilt)
    Some(CorrLowering(src, pairs.map(_._1), negated, residual))
  }

  /** Static no-NULL proof for one output column of a NOT IN subquery:
    * the attribute is non-nullable, or it traces (through Project
    * aliases / Filters / SubqueryAliases) to a non-null literal or to
    * a column some Filter below pins with `IS NOT NULL`. Purely
    * syntactic and one-sided — anything unprovable answers false and
    * the statement stays a loud rejection.
    */
  private[plans] def provablyNonNull(plan: LogicalPlan,
                                     out: org.apache.spark.sql.catalyst
                                       .expressions.Attribute): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, Literal}
    if (!out.nullable) return true
    // Pins are collected ONLY along the chase path (ADVICE r20 #1: a
    // global collect over every Filter in the plan is unsound — a pin
    // below the null-producing side of an outer join "proves" an output
    // the join can still null above it, and the anti-join lowering then
    // deletes rows three-valued semantics keep). Every operator between
    // a pinning Filter and the output must be row-preserving and
    // non-null-producing: Project / Filter / SubqueryAlias / Aggregate
    // passthrough. Anything else (Join, Generate, Union, ...) hits the
    // default case and answers false — one-sided, the statement stays a
    // loud rejection.
    def pinsOf(cond: org.apache.spark.sql.catalyst.expressions.Expression)
    : Set[Long] = PH.split(cond).collect {
      case IsNotNull(x: AttributeReference) => x.exprId.id
    }.toSet
    def chase(p: LogicalPlan, a: Attribute, pins: Set[Long]): Boolean =
      !a.nullable || pins.contains(a.exprId.id) || (p match {
        case Project(list, child) =>
          list.find(_.exprId == a.exprId) match {
            case Some(Alias(ar: AttributeReference, _)) => chase(child, ar, pins)
            case Some(Alias(l: Literal, _)) => l.value != null
            case Some(ar: AttributeReference) => chase(child, ar, pins)
            case _ => false
          }
        case SubqueryAlias(_, child) => chase(child, a, pins)
        case Filter(cond, child) => chase(child, a, pins ++ pinsOf(cond))
        case ag: Aggregate =>
          ag.aggregateExpressions.find(_.exprId == a.exprId) match {
            case Some(Alias(ar: AttributeReference, _)) =>
              chase(ag.child, ar, pins)
            case Some(ar: AttributeReference) => chase(ag.child, ar, pins)
            case _ => false
          }
        case _ => false
      })
    chase(plan, out, Set.empty)
  }

  /** Strip the equality-correlation conjuncts out of `plan0`'s
    * correlated Filter and surface their inner key expressions as
    * projected columns at the plan root — the plan surgery that turns
    * "subquery correlated on t.k = e" into "source frame of e keys".
    * Supported shape: ONE correlated Filter reachable from the root
    * through Project/Filter/SubqueryAlias only (row-preserving per
    * key); everything else raises via `unsupported`.
    */
  /** A correlated SCALAR subquery (an UPDATE SET value) lowered to a
    * source frame: `sourcePlan` projects the scalar value as
    * [[ScalarValueCol]] plus the correlation keys aliased to the target
    * key names. With an aggregate at the subquery root the decorrelated
    * frame GROUPS on the keys (one row per key by construction);
    * otherwise it is the row-preserving Project/Filter shape and the
    * caller's source-distinct + cardinality probe enforce the scalar
    * "more than one row" raise.
    */
  private[plans] final case class ScalarLowering(sourcePlan: LogicalPlan,
                                                 keyCols: Seq[String])

  /** Source column name carrying the decorrelated scalar value. */
  val ScalarValueCol = "__graft_sv"

  private[plans] def scalarSubqueryLowering(sq: ScalarSubquery,
                                            targetOut: AttributeSet)
  : ScalarLowering = {
    def unsupported(what: String): Nothing =
      throw new UnsupportedOperationException(
        s"graft DML scalar subqueries: $what")
    val (rebuilt, pairs) =
      decorrelate(sq.plan, targetOut, unsupported, allowRootAgg = true)
    if (pairs.isEmpty) unsupported(
      "no equality correlation to the target survived decorrelation — " +
        "an uncorrelated scalar belongs to the literalizing path " +
        "(this is a bug if you see it)")
    pairs.map(_._1.toLowerCase).groupBy(identity).collect {
      case (k, vs) if vs.size > 1 => k
    }.headOption.foreach(k => unsupported(
      s"target column $k is correlated more than once — drop the " +
        "redundant equality or fold it into the subquery"))
    val valueAttr = sq.plan.output.head
    val src = Project(
      (Alias(valueAttr, ScalarValueCol)() +:
        pairs.map { case (name, ne) => Alias(ne.toAttribute, name)() })
        .map(ne => ne: NamedExpression),
      rebuilt)
    ScalarLowering(src, pairs.map(_._1))
  }

  private def decorrelate(plan0: LogicalPlan, targetOut: AttributeSet,
                          unsupported: String => Nothing,
                          allowRootAgg: Boolean = false)
  : (LogicalPlan, Seq[(String, NamedExpression)]) = {
    val corrFilters = plan0.collect {
      case f: Filter if f.condition.exists(_.isInstanceOf[OuterReference]) => f
    }
    if (corrFilters.size > 1) unsupported(
      "the correlation must sit in ONE Filter of the subquery, found " +
        s"${corrFilters.size} correlated filters")
    // outer references anywhere OUTSIDE that filter's condition (a
    // correlated projection, join side, aggregate...) are not a plain
    // semi-join shape
    val stray = plan0.collect {
      case f: Filter if corrFilters.exists(_ eq f) => Nil
      case node => node.expressions.filter(
        _.exists(_.isInstanceOf[OuterReference]))
    }.flatten
    if (stray.nonEmpty) unsupported(
      "outer references may appear only in Filter conditions of the " +
        s"subquery (got: ${stray.head.sql})")
    if (corrFilters.isEmpty) return (plan0, Nil)
    val corrFilter = corrFilters.head
    // the chain above the correlated filter must preserve per-key
    // existence: Project/SubqueryAlias/Filter only — plus, for SCALAR
    // subqueries (allowRootAgg), ONE group-less Aggregate whose
    // functions are NULL on empty input: grouping the decorrelated
    // frame on the keys then makes a missing key and an empty group
    // coincide, exactly the scalar's NULL-on-no-match. Anything above
    // that Aggregate must be a pure rename (a computed projection —
    // `coalesce(max(x), 0)` — evaluates on the NULL the subquery
    // returns, which a missing group cannot reproduce).
    import org.apache.spark.sql.catalyst.expressions.aggregate._
    def validate(p: LogicalPlan, aggAllowed: Boolean): Unit = p match {
      case f: Filter if f eq corrFilter => ()
      case ag: Aggregate =>
        if (!aggAllowed) unsupported(
          if (allowRootAgg)
            "only ONE group-less aggregate may sit over the " +
              "correlation, reached through pure column renames — a " +
              "computed projection or second aggregate above it would " +
              "change the no-match NULL-fill"
          else
            "the correlated filter must sit under Project/Filter " +
              "operators only — an aggregate over the correlation " +
              "does not lower to a key join (EXISTS over a scalar " +
              "aggregate is constant-true)")
        if (ag.groupingExpressions.nonEmpty) unsupported(
          "a correlated scalar subquery with GROUP BY does not lower " +
            "to the key join — compute the grouping in a MERGE USING " +
            "source")
        // the output must be NULL when the group is EMPTY, because a
        // missing key in the grouped frame null-fills — proven by a
        // path from the root to a null-on-empty aggregate through
        // null-propagating nodes only (`max(v) + count(*)` qualifies:
        // max's NULL forces the sum; bare count() or coalesce(max, 0)
        // do not — they answer a non-NULL the group-by cannot produce)
        def nullOnEmpty(e: Expression): Boolean = e match {
          case ae: AggregateExpression => ae.aggregateFunction match {
            case _: Max | _: Min | _: Sum | _: Average | _: First |
                 _: Last => true
            case _ => false
          }
          case a: Alias => nullOnEmpty(a.child)
          case c: org.apache.spark.sql.catalyst.expressions.Cast =>
            nullOnEmpty(c.child)
          case b: org.apache.spark.sql.catalyst.expressions
              .BinaryArithmetic =>
            nullOnEmpty(b.left) || nullOnEmpty(b.right)
          case u: org.apache.spark.sql.catalyst.expressions.UnaryMinus =>
            nullOnEmpty(u.child)
          case _ => false
        }
        ag.aggregateExpressions.find(!nullOnEmpty(_)).foreach(bad =>
          unsupported(
            s"the aggregate output ${bad.sql} is not provably NULL on " +
              "empty input (count() answers 0, coalesce substitutes), " +
              "so a no-match target row cannot null-fill exactly — " +
              "compute the value in a MERGE USING source instead"))
        validate(ag.child, aggAllowed = false)
      case pr: Project =>
        validate(pr.child, aggAllowed && pr.projectList.forall {
          case _: AttributeReference => true
          case Alias(_: AttributeReference, _) => true
          case _ => false
        })
      case sa: SubqueryAlias => validate(sa.child, aggAllowed)
      case f: Filter => validate(f.child, aggAllowed)
      case other => unsupported(
        "the correlated filter must sit under Project/Filter operators " +
          s"only (found ${other.nodeName} above it) — aggregates or " +
          "joins above the correlation do not lower to a key join")
    }
    validate(plan0, allowRootAgg)
    val (corrConjs, localConjs) =
      PH.split(corrFilter.condition)
        .partition(_.exists(_.isInstanceOf[OuterReference]))
    def innerOk(e: Expression): Boolean =
      !e.exists(_.isInstanceOf[OuterReference]) &&
        !e.exists(_.isInstanceOf[PlanExpression[_]]) &&
        e.references.subsetOf(corrFilter.child.outputSet)
    val rawPairs: Seq[(AttributeReference, Expression)] = corrConjs.map {
      case EqualTo(OuterReference(a: AttributeReference), inner)
          if targetOut.contains(a) && innerOk(inner) => a -> inner
      case EqualTo(inner, OuterReference(a: AttributeReference))
          if targetOut.contains(a) && innerOk(inner) => a -> inner
      case other => unsupported(
        "only equality correlation between a bare target column and a " +
          s"subquery expression is supported (got: ${other.sql}) — " +
          "non-equi correlation cannot drive key-pruned candidates; " +
          "rewrite with MERGE and a rich ON condition")
    }
    val aliases = rawPairs.zipWithIndex.map { case ((a, inner), i) =>
      Alias(inner, s"__corr_${i}_${a.name}")()
    }
    val corrAttrs: Seq[NamedExpression] = aliases.map(_.toAttribute)
    val newNode: LogicalPlan = Project(
      corrFilter.child.output ++ aliases,
      localConjs.reduceOption(
          org.apache.spark.sql.catalyst.expressions.And(_, _))
        .map(Filter(_, corrFilter.child)).getOrElse(corrFilter.child))
    // thread the key attributes up the (validated) chain: Projects
    // pass them through, Filters and aliases are untouched
    def rebuild(p: LogicalPlan): LogicalPlan = p match {
      case f: Filter if f eq corrFilter => newNode
      // the (validated) root aggregate becomes a GROUP BY on the
      // correlation keys — one output row per key, keys flow to the root
      case ag: Aggregate =>
        ag.copy(groupingExpressions =
            ag.groupingExpressions ++ corrAttrs.map(_.toAttribute),
          aggregateExpressions = ag.aggregateExpressions ++ corrAttrs,
          child = rebuild(ag.child))
      case pr @ Project(list, child) =>
        pr.copy(projectList = list ++ corrAttrs, child = rebuild(child))
      case sa: SubqueryAlias => sa.copy(child = rebuild(sa.child))
      case f @ Filter(_, child) => f.copy(child = rebuild(child))
      case other => unsupported(s"unreachable: ${other.nodeName}")
    }
    (rebuild(plan0),
      rawPairs.zip(aliases).map { case ((a, _), al) =>
        a.name -> (al.toAttribute: NamedExpression) })
  }

  /** The SCALAR-COMPARISON shape's "more than one row" guard: when a
    * `valueCond` rides the lowering, a correlated key carrying two
    * DISTINCT scalar values is the SQL scalar-subquery error — and it
    * must raise HERE, before the merge, because a value-dependent
    * clause condition could otherwise fire on only one of the values
    * and silently pick it (the clause-aware cardinality probe only
    * raises when BOTH fire). One aggregate over the batch-sized
    * decorrelated frame; conservative — it raises whether or not a
    * target row actually carries the ambiguous key.
    */
  private[plans] def requireSingleValued(
      src: org.apache.spark.sql.DataFrame, keyCols: Seq[String],
      valueCond: Option[String]): org.apache.spark.sql.DataFrame = {
    if (valueCond.isEmpty) return src
    import org.apache.spark.sql.functions.{col, count, lit}
    require(src.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__n")).where(col("__n") > 1).isEmpty,
      "scalar subquery in the predicate returned more than one row " +
        "for a correlated key")
    src
  }

  /** Distinct-key ceiling for literalized `IN (subquery)` predicates —
    * beyond it the IN-list stops being a predicate and starts being a
    * source frame, which is MERGE's job (`WHEN MATCHED THEN
    * DELETE/UPDATE` streams the keys through the source-key-pruned
    * join instead of the driver).
    */
  val MaxSubqueryKeys = 10000

  /** Evaluates the UNCORRELATED subqueries inside a DML predicate to
    * literals — `IN (SELECT ...)` to a bounded literal IN-list (the
    * file-stats pruner then prunes on it like any IN), `EXISTS (...)`
    * to a boolean, a scalar subquery to its single value — so the
    * result can cross the manifest API's SQL-string seam. Runs at
    * COMMAND time (subqueries execute when the DML executes, never
    * during analysis). Correlated subqueries stay a loud rejection:
    * per-row re-evaluation cannot be a predicate pushdown.
    */
  private[plans] def literalizeSubqueries(spark: SparkSession,
                                          e: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Exists, In, InSubquery, ListQuery, Literal, ScalarSubquery}
    def frame(p: LogicalPlan) =
      org.apache.spark.sql.graft.GraftSqlShims.ofRows(spark, p)
    val out = transformUpWithParameters(e) {
      case InSubquery(values, lq: ListQuery) if lq.outerAttrs.isEmpty =>
        if (values.size != 1)
          throw new UnsupportedOperationException(
            "graft DML predicates support single-column IN (subquery) " +
              s"only (got ${values.size} columns)")
        val rows = frame(lq.plan).distinct()
          .limit(MaxSubqueryKeys + 1).collect()
        if (rows.length > MaxSubqueryKeys)
          throw new UnsupportedOperationException(
            s"IN (subquery) produced more than $MaxSubqueryKeys distinct " +
              "keys — route unbounded key sets through MERGE ... WHEN " +
              "MATCHED THEN DELETE/UPDATE (source-key-pruned, no driver " +
              "collect)")
        val dt = lq.plan.output.head.dataType
        // SQL: x IN (empty set) is FALSE for every x, NULL included
        if (rows.isEmpty) Literal.create(false, BooleanType)
        else In(values.head,
          rows.toSeq.map(r => Literal.create(r.get(0), dt)))
      case ex: Exists if ex.outerAttrs.isEmpty =>
        Literal.create(!frame(ex.plan).isEmpty, BooleanType)
      case sq: ScalarSubquery if sq.outerAttrs.isEmpty =>
        val rows = frame(sq.plan).limit(2).collect()
        if (rows.length > 1)
          throw new IllegalStateException(
            "scalar subquery in a DML predicate returned more than one row")
        Literal.create(rows.headOption.map(_.get(0)).orNull, sq.dataType)
    }
    out.foreach {
      case p: PlanExpression[_] =>
        throw new UnsupportedOperationException(
          "correlated subqueries are not supported in graft DML " +
            s"predicates (got: ${p.sql})")
      case _ => ()
    }
    out
  }
}

/** `ALTER COLUMN ... SET NOT NULL` lowered to
  * [[ManifestTable.setColumnNullability]] — the existing-rows
  * validation aggregate plus one metadata commit per column.
  */
case class GraftSetNotNullCommand(dir: String, cols: Seq[String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    cols.foreach(c =>
      ManifestTable.setColumnNullability(spark, dir, c, nullable = false))
    Seq.empty
  }
}

/** Opaque holder keeping a RESOLVED condition out of `TreeNode`'s
  * expression traversal: CheckAnalysis re-validates subquery placement
  * against a whitelist of operators (Filter/Join/.../UPDATE/DELETE
  * commands) that custom commands are not on — the condition was fully
  * checked while it still sat on the original command, so re-checking
  * it here would only reject what analysis already accepted.
  */
case class GraftHeldCond(@transient e: Expression) {
  override def toString: String = e.sql
}

/** SQL `DELETE` over a graft table — the general command: a plain
  * condition (ANY predicate shape, not just the V1-translatable
  * subset the SupportsDeleteV2 seam carries) passes straight through;
  * uncorrelated subqueries literalize at run time (bounded IN-list /
  * boolean / scalar). Either way the predicate takes
  * [[ManifestTable.deleteWhere]]'s normal stats-pruned, DV-aware path.
  */
case class GraftDeleteSubqueryCommand(dir: String, cond: GraftHeldCond)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] =
    cond.e.collect { case p: PlanExpression[_] =>
      p.plan.asInstanceOf[LogicalPlan] }
  override def run(spark: SparkSession): Seq[Row] = {
    val lit = GraftDmlRule.literalizeSubqueries(spark, cond.e)
    val opId = s"sql-delete-${java.util.UUID.randomUUID()}"
    ManifestTable.retryOnConflict(spark, dir, opId) {
      ManifestTable.deleteWhere(spark, dir, GraftDmlRule.predicateSql(lit),
        opId, cdc = ManifestTable.changeFeedEnabled(
          ManifestTable.snapshot(spark, dir)))
    }
    Seq.empty
  }
}

/** `UPDATE ... WHERE <condition with subqueries>` and/or `SET c =
  * (uncorrelated subquery)` — same literalize-then-lower contract as
  * [[GraftDeleteSubqueryCommand]], feeding
  * [[ManifestTable.updateWhere]]: the condition AND the held SET
  * values evaluate their uncorrelated subqueries at command time
  * (`SET n = (SELECT max(k) FROM s)` becomes a typed literal — the
  * scalar is per-STATEMENT, so one evaluation is the semantics, not a
  * shortcut). Pre-printed `set` entries (plain and struct-rebuild
  * values) ride unchanged.
  */
case class GraftUpdateSubqueryCommand(dir: String, cond: GraftHeldCond,
                                      set: Map[String, String],
                                      setHeld: Seq[(String, GraftHeldCond)] = Nil)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] =
    (cond.e +: setHeld.map(_._2.e)).flatMap(_.collect {
      case p: PlanExpression[_] => p.plan.asInstanceOf[LogicalPlan] })
  override def run(spark: SparkSession): Seq[Row] = {
    val lit = GraftDmlRule.literalizeSubqueries(spark, cond.e)
    val setAll = set ++ setHeld.map { case (c, h) =>
      c -> GraftDmlRule.predicateSql(
        GraftDmlRule.literalizeSubqueries(spark, h.e))
    }
    val opId = s"sql-update-${java.util.UUID.randomUUID()}"
    ManifestTable.retryOnConflict(spark, dir, opId) {
      ManifestTable.updateWhere(spark, dir, GraftDmlRule.predicateSql(lit),
        setAll, opId, cdc = ManifestTable.changeFeedEnabled(
          ManifestTable.snapshot(spark, dir)))
    }
    Seq.empty
  }
}

/** `DELETE ... WHERE [NOT] EXISTS / IN (correlated subquery)` lowered
  * to the engine's SOURCE-KEY-PRUNED row ops: the decorrelated
  * subquery ([[GraftDmlRule.correlatedLowering]]) becomes the source
  * frame (its key columns aliased to the target key names, dedup'd
  * here — a semi/anti join is per-KEY existence), and
  *
  *   - positive EXISTS/IN with no residual predicate →
  *     [[ManifestTable.deleteMatching]] (the tombstone path: only the
  *     files that can hold a source key are rewritten);
  *   - positive with a residual target predicate → general merge with
  *     one conditional `WHEN MATCHED THEN DELETE` clause (same
  *     source-key candidate pruning);
  *   - NOT EXISTS → general merge with one `WHEN NOT MATCHED BY
  *     SOURCE THEN DELETE` clause (inherently full-scope: "rows the
  *     source does NOT name" is unboundable by key stats — the same
  *     cost Delta pays for the same statement).
  *
  * The residual literalizes its UNCORRELATED subqueries at run time,
  * then re-prints into the merge executor's `__t_` namespace. No
  * driver collect of keys anywhere — the correlated shape is exactly
  * the unbounded-key-set case the 10k literalization cap points at.
  */
case class GraftDeleteCorrelatedCommand(dir: String,
                                        @transient source: LogicalPlan,
                                        keyCols: Seq[String],
                                        negated: Boolean,
                                        residual: Option[GraftHeldCond],
                                        valueCond: Option[String] = None)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] =
    Seq(source) ++ residual.toSeq.flatMap(_.e.collect {
      case p: PlanExpression[_] => p.plan.asInstanceOf[LogicalPlan] })
  override def run(spark: SparkSession): Seq[Row] = {
    val residLit = residual.map(h =>
      GraftDmlRule.literalizeSubqueries(spark, h.e))
    val residSql = residLit.map(GraftDmlRule.prefixedSql(_, "__t_"))
    val src0 = org.apache.spark.sql.graft.GraftSqlShims
      .ofRows(spark, source).distinct()
    val src = GraftDmlRule.requireSingleValued(src0, keyCols, valueCond)
    val clauseCond = (valueCond.toSeq ++ residSql.toSeq)
      .reduceOption((a, b) => s"($a) AND ($b)")
    val opId = s"sql-delete-corr-${java.util.UUID.randomUUID()}"
    ManifestTable.retryOnConflict(spark, dir, opId) {
      def cdcNow = ManifestTable.changeFeedEnabled(
        ManifestTable.snapshot(spark, dir))
      if (!negated && clauseCond.isEmpty)
        ManifestTable.deleteMatching(src, dir, keyCols, opId, cdc = cdcNow)
      else {
        val clause = ManifestTable.MergeClause("delete", clauseCond, Nil)
        ManifestTable.mergeGeneral(src, dir, keyCols,
          matched = if (negated) Nil else Seq(clause),
          notMatched = Nil,
          notMatchedBySource = if (negated) Seq(clause) else Nil,
          opId = opId, cdc = cdcNow,
          scopeSql = residLit.map(GraftDmlRule.predicateSql))
      }
    }
    Seq.empty
  }
}

/** `UPDATE ... SET ... WHERE [NOT] EXISTS / IN (correlated subquery)`
  * — same decorrelated-source lowering as
  * [[GraftDeleteCorrelatedCommand]], with the SET assignments riding a
  * single `WHEN MATCHED THEN UPDATE` (positive) or `WHEN NOT MATCHED
  * BY SOURCE THEN UPDATE` (NOT EXISTS) clause; `set` values are
  * already in the executor's `__t_` namespace (SET sees the OLD row,
  * and may reference target columns only).
  */
case class GraftUpdateCorrelatedCommand(dir: String,
                                        @transient source: LogicalPlan,
                                        keyCols: Seq[String],
                                        negated: Boolean,
                                        residual: Option[GraftHeldCond],
                                        set: Seq[(String, String)],
                                        valueCond: Option[String] = None)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] =
    Seq(source) ++ residual.toSeq.flatMap(_.e.collect {
      case p: PlanExpression[_] => p.plan.asInstanceOf[LogicalPlan] })
  override def run(spark: SparkSession): Seq[Row] = {
    val residLit = residual.map(h =>
      GraftDmlRule.literalizeSubqueries(spark, h.e))
    val residSql = residLit.map(GraftDmlRule.prefixedSql(_, "__t_"))
    val src0 = org.apache.spark.sql.graft.GraftSqlShims
      .ofRows(spark, source).distinct()
    val src = GraftDmlRule.requireSingleValued(src0, keyCols, valueCond)
    val clauseCond = (valueCond.toSeq ++ residSql.toSeq)
      .reduceOption((a, b) => s"($a) AND ($b)")
    val opId = s"sql-update-corr-${java.util.UUID.randomUUID()}"
    val clause = ManifestTable.MergeClause("update", clauseCond, set)
    ManifestTable.retryOnConflict(spark, dir, opId) {
      ManifestTable.mergeGeneral(src, dir, keyCols,
        matched = if (negated) Nil else Seq(clause),
        notMatched = Nil,
        notMatchedBySource = if (negated) Seq(clause) else Nil,
        opId = opId, cdc = ManifestTable.changeFeedEnabled(
          ManifestTable.snapshot(spark, dir)),
        scopeSql = residLit.map(GraftDmlRule.predicateSql))
    }
    Seq.empty
  }
}

/** `UPDATE t SET v = (correlated scalar subquery) [, c = expr...]
  * WHERE p` — the decorrelated subquery ([[GraftDmlRule
  * .scalarSubqueryLowering]]) is the MERGE source; `matchedValSql`
  * carries the SET value with the subquery slot replaced by the source
  * value column, `nmbsValSql` the same value with a typed NULL in the
  * slot (SQL's no-match null-fill — `coalesce((SELECT ...), -1)`
  * null-fills to -1). Both clauses guard on the (literalized) WHERE,
  * which doubles as the candidate SCOPE predicate: the NOT-MATCHED-BY-
  * SOURCE quantifier prunes to the files whose stats can satisfy it.
  * Multiple distinct matches per target row raise through the merge
  * executor's clause-aware cardinality probe — the scalar subquery's
  * "more than one row" error.
  */
case class GraftUpdateScalarSetCommand(dir: String,
                                       @transient source: LogicalPlan,
                                       keyCols: Seq[String],
                                       setCol: String,
                                       matchedValSql: String,
                                       nmbsValSql: String,
                                       staticSets: Seq[(String, String)],
                                       setHeld: Seq[(String, GraftHeldCond)],
                                       residual: Option[GraftHeldCond])
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] =
    Seq(source) ++ (residual.toSeq.map(_.e) ++ setHeld.map(_._2.e))
      .flatMap(_.collect {
        case p: PlanExpression[_] => p.plan.asInstanceOf[LogicalPlan] })
  override def run(spark: SparkSession): Seq[Row] = {
    val residLit = residual.map(h =>
      GraftDmlRule.literalizeSubqueries(spark, h.e))
    val residSql = residLit.map(GraftDmlRule.prefixedSql(_, "__t_"))
    val scope = residLit.map(GraftDmlRule.predicateSql)
    val held = setHeld.map { case (c, h) =>
      c -> GraftDmlRule.prefixedSql(
        GraftDmlRule.literalizeSubqueries(spark, h.e), "__t_") }
    // full-row distinct: exact duplicate (key, value) pairs collapse
    // (SQL cannot observe equal scalars); distinct VALUES per key
    // survive and trip the cardinality probe — the "more than one row"
    // raise
    val src = org.apache.spark.sql.graft.GraftSqlShims
      .ofRows(spark, source).distinct()
    val opId = s"sql-update-scalar-${java.util.UUID.randomUUID()}"
    val m = ManifestTable.MergeClause("update", residSql,
      staticSets ++ held :+ (setCol -> matchedValSql))
    val n = ManifestTable.MergeClause("update", residSql,
      staticSets ++ held :+ (setCol -> nmbsValSql))
    ManifestTable.retryOnConflict(spark, dir, opId) {
      ManifestTable.mergeGeneral(src, dir, keyCols,
        matched = Seq(m), notMatched = Nil,
        notMatchedBySource = Seq(n),
        opId = opId, cdc = ManifestTable.changeFeedEnabled(
          ManifestTable.snapshot(spark, dir)),
        scopeSql = scope)
    }
    Seq.empty
  }
}

/** `UPDATE` lowered to [[ManifestTable.updateWhere]] — one atomic
  * copy-on-write commit over the stats-pruned candidate files.
  */
case class GraftUpdateCommand(dir: String, condSql: String,
                              set: Map[String, String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val opId = s"sql-update-${java.util.UUID.randomUUID()}"
    ManifestTable.retryOnConflict(spark, dir, opId) {
      ManifestTable.updateWhere(spark, dir, condSql, set, opId,
        cdc = ManifestTable.changeFeedEnabled(
          ManifestTable.snapshot(spark, dir)))
    }
    Seq.empty
  }
}

/** `MERGE INTO t USING s ON keys WHEN MATCHED THEN DELETE` lowered to
  * [[ManifestTable.deleteMatching]] — delete-by-source-keys, the CDC
  * apply path's tombstone half, rewriting only the source-key-pruned
  * candidate files.
  */
case class GraftMergeDeleteCommand(dir: String,
                                   @transient source: LogicalPlan,
                                   keyCols: Seq[String])
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(spark: SparkSession): Seq[Row] = {
    val src = org.apache.spark.sql.graft.GraftSqlShims.ofRows(spark, source)
    val opId = s"sql-merge-delete-${java.util.UUID.randomUUID()}"
    ManifestTable.retryOnConflict(spark, dir, opId) {
      ManifestTable.deleteMatching(src, dir, keyCols, opId,
        cdc = ManifestTable.changeFeedEnabled(
          ManifestTable.snapshot(spark, dir)))
    }
    Seq.empty
  }
}

/** `MERGE INTO` (upsert shape) lowered to [[ManifestTable.merge]] —
  * source-key pruning, one atomic commit. The source plan rides along
  * resolved and is executed as a normal DataFrame at run time (so a
  * graft-table source still reads through its pruned scan).
  */
case class GraftMergeCommand(dir: String,
                             @transient source: LogicalPlan,
                             keyCols: Seq[String])
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(spark: SparkSession): Seq[Row] = {
    val src = org.apache.spark.sql.graft.GraftSqlShims.ofRows(spark, source)
    val opId = s"sql-merge-${java.util.UUID.randomUUID()}"
    ManifestTable.retryOnConflict(spark, dir, opId) {
      ManifestTable.merge(src, dir, keyCols, opId,
        cdc = ManifestTable.changeFeedEnabled(
          ManifestTable.snapshot(spark, dir)))
    }
    Seq.empty
  }
}

/** A MERGE clause as the resolution rule hands it to the command:
  * condition and SET values are either pre-printed prefixed SQL
  * (`Left`) or — when they carry UNCORRELATED subqueries — held,
  * pre-renamed expressions (`Right`) that literalize at command time
  * ([[GraftDmlRule.literalizeSubqueries]]: subqueries execute when the
  * DML executes, once per statement, never during analysis).
  */
final case class GraftClause(kind: String,
                             cond: Option[Either[String, GraftHeldCond]],
                             set: Seq[(String, Either[String, GraftHeldCond])])

/** General `MERGE INTO` — conditional matched clauses, partial-column
  * `UPDATE SET`, mixed UPDATE+DELETE, conditional/partial INSERTs and
  * `NOT MATCHED BY SOURCE` — lowered to
  * [[ManifestTable.mergeGeneral]]: source-key-pruned candidates (full
  * scope only when NMBS clauses quantify over the whole target, or
  * when a THETA `ON` carries no equality pair at all — `keyCols`
  * empty, whole ON in `residue`), SQL clause-order and
  * cardinality-violation semantics, one atomic commit. Clause
  * expressions travel as SQL in the executor's `__t_`/`__s_` prefixed
  * namespace, sides fixed at resolution; uncorrelated subqueries in
  * clause conditions / SET values ride as held expressions and
  * literalize here at run time.
  */
case class GraftMergeGeneralCommand(dir: String,
                                    @transient source: LogicalPlan,
                                    keyCols: Seq[String],
                                    matched: Seq[GraftClause],
                                    notMatched: Seq[GraftClause],
                                    notMatchedBySource: Seq[GraftClause],
                                    sourceKeyCols: Seq[String] = Nil,
                                    residue: Option[Either[String, GraftHeldCond]] = None)
    extends LeafRunnableCommand {
  private def heldOf(e: Either[String, GraftHeldCond]): Seq[Expression] =
    e.toSeq.map(_.e)
  override def innerChildren: Seq[LogicalPlan] =
    Seq(source) ++
      ((matched ++ notMatched ++ notMatchedBySource).flatMap(c =>
        c.cond.toSeq.flatMap(heldOf) ++ c.set.flatMap(s => heldOf(s._2))) ++
        residue.toSeq.flatMap(heldOf))
        .flatMap(_.collect {
          case p: PlanExpression[_] => p.plan.asInstanceOf[LogicalPlan] })
  override def run(spark: SparkSession): Seq[Row] = {
    def render(e: Either[String, GraftHeldCond]): String = e match {
      case Left(s) => s
      case Right(h) => GraftDmlRule.predicateSql(
        GraftDmlRule.literalizeSubqueries(spark, h.e))
    }
    def toClause(c: GraftClause): ManifestTable.MergeClause =
      ManifestTable.MergeClause(c.kind, c.cond.map(render),
        c.set.map { case (n, v) => n -> render(v) })
    val src = org.apache.spark.sql.graft.GraftSqlShims.ofRows(spark, source)
    val opId = s"sql-merge-general-${java.util.UUID.randomUUID()}"
    ManifestTable.retryOnConflict(spark, dir, opId) {
      ManifestTable.mergeGeneral(src, dir, keyCols,
        matched.map(toClause), notMatched.map(toClause),
        notMatchedBySource.map(toClause), opId,
        cdc = ManifestTable.changeFeedEnabled(
          ManifestTable.snapshot(spark, dir)),
        sourceKeyCols = sourceKeyCols, residueSql = residue.map(render))
    }
    Seq.empty
  }
}
