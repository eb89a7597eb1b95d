package graft.sources

import graft.cdc.MergeTable
import org.apache.spark.sql.{GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, Cast, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.col

/** SQL DML surface for MergeTable — the reference applies CDC through
  * `spark.sql("MERGE INTO … WHEN MATCHED UPDATE SET * WHEN NOT
  * MATCHED INSERT *")` (transaction_log_util.py:279-301) and
  * `DELETE FROM …` (transaction_log_util.py:304-334); this analyzer
  * rule gives mergetable targets the same surface.
  *
  * Injected via [[graft.GraftExtensions]] (the pre-row-level-ops
  * extension pattern Iceberg's Spark extensions used for MERGE): a
  * resolution rule rewrites `MergeIntoTable` / `DeleteFromTable`
  * whose target is a mergetable relation into a runnable command
  * backed by the table's transactional upsert/delete, which handle
  * COW, MOR, and bucketed layouts uniformly.
  *
  * Fast paths (the reference's surface — compile straight to the
  * table's keyed primitives, no read-modify join):
  *  - MERGE … ON <all PK equalities> WHEN MATCHED THEN UPDATE SET *
  *    WHEN NOT MATCHED THEN INSERT *          → upsert
  *  - MERGE … WHEN MATCHED THEN DELETE         → key delete
  *  - MERGE … WHEN NOT MATCHED THEN INSERT *   → insert-only
  *  - DELETE FROM t WHERE <predicate>          → predicate delete
  *  - UPDATE t SET col = expr WHERE <predicate> → read-modify-upsert
  * Every other ANSI MERGE form — conditional actions
  * (`WHEN MATCHED AND c THEN …`), multiple matched/not-matched
  * clauses, partial SET lists (values may reference BOTH sides, e.g.
  * `SET v = t.v + s.inc`), `WHEN NOT MATCHED BY SOURCE UPDATE/DELETE`
  * — compiles through [[generalMerge]] into one first-match-per-row
  * plan that routes each row to upsert or delete. Only non-PK merge
  * conditions and SET/INSERT of primary-key-violating shapes are
  * rejected, loudly.
  */
class ResolveMergeTableDml(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsDown {
    // the CONDITION must be resolved too, not just the children: a
    // multi-iteration source (an inline UNION subquery) leaves the ON
    // clause unresolved for one more analyzer pass, and judging
    // `'t.id = 's.id` then would mis-reject it (UnresolvedAttribute IS
    // an Attribute, so the outputSet side checks all read false).
    // Resolution is a fixed point — skipping this iteration just means
    // firing on the next one; a condition that never resolves surfaces
    // as the analyzer's own UNRESOLVED_COLUMN error, which names the
    // real problem
    case m: MergeIntoTable if m.targetTable.resolved && m.sourceTable.resolved &&
        m.mergeCondition.resolved =>
      mergeTarget(m.targetTable) match {
        case Some(rel) => rewriteMerge(m, rel)
        case None => m
      }
    case d @ DeleteFromTable(t, cond) if t.resolved =>
      mergeTarget(t) match {
        case Some(rel) =>
          MergeTableDmlCommand(rel.path, rel.keys, rel.mode, rel.numBuckets,
            Filter(cond, t), MergeTableDmlCommand.Delete)
        case None => d
      }
    case u @ UpdateTable(t, assignments, cond) if t.resolved =>
      mergeTarget(t) match {
        case Some(rel) => rewriteUpdate(t, assignments, cond, rel)
        case None => u
      }
  }

  /** `UPDATE t SET col = expr [WHERE p]` compiles to a read-modify-
    * upsert: filter the current snapshot to the matching rows, project
    * every target column — assigned columns take their SET expression
    * (which may reference the row's own columns: `SET v = v + 1`),
    * the rest pass through — and upsert the result by primary key.
    * Only the matching keys' rows rewrite (COW joins on the key set;
    * MOR appends a delta), not the table. SET of a PK column is a key
    * rewrite, rejected loudly like in MERGE.
    */
  private def rewriteUpdate(t: LogicalPlan, assignments: Seq[Assignment],
      cond: Option[Expression], rel: DmlTarget): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Cast}
    def fail(msg: String): Nothing =
      throw new UnsupportedOperationException(s"UPDATE mergetable: $msg")
    // ANSI rejects duplicate SET targets; silently keeping the first
    // would write data a typo'd statement never asked for
    val dup = assignments.flatMap(a => attrName(a.key)).map(_.toLowerCase)
      .groupBy(identity).collectFirst { case (k, vs) if vs.size > 1 => k }
    dup.foreach(k => fail(s"duplicate SET assignment to column $k"))
    assignments.foreach { as =>
      val k = attrName(as.key).getOrElse(fail(s"unsupported SET key: ${as.key.sql}"))
      val identity = as.value match {
        case a: Attribute => a.name.equalsIgnoreCase(k)
        case u: UnresolvedAttribute => u.nameParts.last.equalsIgnoreCase(k)
        case _ => false
      }
      if (rel.keys.exists(_.equalsIgnoreCase(k)) && !identity)
        fail(s"cannot SET primary-key column $k")
      if (!t.output.exists(_.name.equalsIgnoreCase(k)))
        fail(s"SET column $k is not a column of the target table")
    }
    val filtered = cond.map(Filter(_, t)).getOrElse(t)
    val cols = t.output.map { a =>
      // PK columns always pass through (identity SETs are no-ops)
      val e = if (rel.keys.exists(_.equalsIgnoreCase(a.name))) a
        else assignments.find(as => attrName(as.key).exists(_.equalsIgnoreCase(a.name)))
          .map(as => Cast(as.value, a.dataType)).getOrElse(a: Expression)
      Alias(e, a.name)()
    }
    MergeTableDmlCommand(rel.path, rel.keys, rel.mode, rel.numBuckets,
      Project(cols, filtered), MergeTableDmlCommand.Update)
  }

  private def mergeTarget(plan: LogicalPlan): Option[DmlTarget] = plan match {
    case SubqueryAlias(_, child) => mergeTarget(child)
    case v: View => mergeTarget(v.child)
    case lr: LogicalRelation => lr.relation match {
      case r: MergeTableRelation =>
        Some(DmlTarget(r.path, r.keys, r.mode, r.numBuckets))
      case _ => None
    }
    case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
      r.table match {
        case t: MergeTableV2 => Some(t.dmlTarget)
        case _ => None
      }
    case _ => None
  }

  private def rewriteMerge(m: MergeIntoTable, rel: DmlTarget): LogicalPlan = {
    def fail(msg: String): Nothing =
      throw new UnsupportedOperationException(s"MERGE INTO mergetable: $msg")
    // identity assignments must take the value from the SOURCE side:
    // `SET v = t.v` (keep target's value) shares the name `v` but is
    // NOT star-form, and running it as an upsert would silently
    // overwrite with the source's value
    def valueFromSource(e: Expression): Boolean = e match {
      case a: Attribute => m.sourceTable.outputSet.contains(a)
      case u: UnresolvedAttribute => u.nameParts.length == 1 // unqualified only
      case _ => false
    }
    // identity assignments are only equivalent to SET * when they
    // cover EVERY target column: `SET v = s.v` on a wider table is a
    // partial update (other columns keep the target's values), and
    // running it as a whole-row upsert would silently replace them
    def assignmentsAreStar(assignments: Seq[Assignment]): Boolean = {
      val assigned = assignments.flatMap(a => attrName(a.key)).map(_.toLowerCase).toSet
      m.targetTable.output.forall(a => assigned.contains(a.name.toLowerCase)) &&
      assignments.forall { as =>
        (attrName(as.key), attrName(as.value)) match {
          case (Some(k), Some(v)) => k.equalsIgnoreCase(v) && valueFromSource(as.value)
          case _ => false
        }
      }
    }
    def isUpdateAll(a: MergeAction): Boolean = a match {
      case UpdateStarAction(None) => true
      case UpdateAction(None, assignments, _) => assignmentsAreStar(assignments)
      case _ => false
    }
    def isInsertAll(a: MergeAction): Boolean = a match {
      case InsertStarAction(None) => true
      case InsertAction(None, assignments) => assignmentsAreStar(assignments)
      case _ => false
    }
    // each equality must pair the TARGET's column with the SOURCE's:
    // `ON t.id = t.id` (always true) names the PK but is a cartesian
    // match under ANSI semantics — compiling it to a keyed upsert
    // would silently invent results no compliant engine produces
    def crossSides(l: Expression, r: Expression): Boolean = {
      def side(e: Expression, p: LogicalPlan): Boolean = e match {
        case a: Attribute => p.outputSet.contains(a)
        case _ => false
      }
      (l, r) match {
        case (la: Attribute, ra: Attribute) =>
          (side(la, m.targetTable) && side(ra, m.sourceTable)) ||
            (side(la, m.sourceTable) && side(ra, m.targetTable))
        case (lu: UnresolvedAttribute, ru: UnresolvedAttribute) =>
          // both qualified by the SAME alias = same side, reject; a
          // differing or missing qualifier is left to resolution
          // (same-name ambiguity between sides errors loudly there)
          !(lu.nameParts.length == 2 && ru.nameParts.length == 2 &&
            lu.nameParts.head.equalsIgnoreCase(ru.nameParts.head))
        case _ => true // mixed resolution state: defer to the analyzer
      }
    }
    // Reject a SOURCE key wider than its TARGET key by comparing the
    // two ATTRIBUTE types under the casts (not cast placement: the
    // analyzer widens the narrower side, but a user may legally wrap
    // BOTH sides in the same up-cast — equal-width keys must pass).
    // Projecting a wider source key onto the target would narrow it
    // through a plain non-ANSI Cast, silently wrapping out-of-range
    // keys — that shape fails here with the real reason.
    def checkKeyWidth(e: Expression): Unit = e match {
      case And(l, r) => checkKeyWidth(l); checkKeyWidth(r)
      case EqualTo(l0, r0) =>
        (stripUpCast(l0), stripUpCast(r0)) match {
          case (la: Attribute, ra: Attribute) =>
            val tgtFirst =
              if (m.targetTable.outputSet.contains(la)) Some((la, ra))
              else if (m.targetTable.outputSet.contains(ra)) Some((ra, la))
              else None
            tgtFirst.foreach { case (tgt, src) =>
              if (m.sourceTable.outputSet.contains(src) &&
                  !Cast.canUpCast(src.dataType, tgt.dataType) &&
                  Cast.canUpCast(tgt.dataType, src.dataType))
                fail(s"merge key ${tgt.name} is ${tgt.dataType.simpleString} in the " +
                  s"target but the source side is the wider " +
                  s"${src.dataType.simpleString}; narrowing it could wrap " +
                  "out-of-range keys — narrow the key inside the source " +
                  s"relation/subquery (e.g. SELECT CAST(${src.name} AS " +
                  s"${tgt.dataType.simpleString}) AS ${src.name} ...), not in " +
                  "the ON clause, so the merge sees a key already at target width")
            }
          case _ => () // unresolved or computed: defer to the analyzer
        }
      case _ => ()
    }
    checkKeyWidth(m.mergeCondition)
    val condCols = keyEqualities(m.mergeCondition, crossSides, stripUpCast)
      .getOrElse(fail(s"merge condition must be a conjunction of primary-key " +
        s"equalities joining target and source on (${rel.keys.mkString(", ")}), " +
        s"got: ${m.mergeCondition.sql}"))
    if (condCols.map(_.toLowerCase).toSet != rel.keys.map(_.toLowerCase).toSet)
      fail(s"merge condition covers (${condCols.mkString(", ")}) but the table's " +
        s"primary key is (${rel.keys.mkString(", ")})")
    // ANSI MERGE writes the TARGET's columns: a source carrying extra
    // columns must not silently widen the table through the fast-path
    // upsert (whose API-level schema evolution is a CDC feature, not a
    // SQL-MERGE one) — project the source to the target schema by name
    def sourceAsTarget: LogicalPlan = {
      import org.apache.spark.sql.catalyst.expressions.{Alias, Cast}
      val source = m.sourceTable
      Project(m.targetTable.output.map { a =>
        val s = source.output.find(_.name.equalsIgnoreCase(a.name))
          .getOrElse(fail(s"INSERT/UPDATE SET * requires source column ${a.name}"))
        Alias(Cast(s, a.dataType), a.name)()
      }, source)
    }
    (m.matchedActions, m.notMatchedActions, m.notMatchedBySourceActions) match {
      case (Seq(u), Seq(i), Seq()) if isUpdateAll(u) && isInsertAll(i) =>
        MergeTableDmlCommand(rel.path, rel.keys, rel.mode, rel.numBuckets,
          sourceAsTarget, MergeTableDmlCommand.Upsert)
      case (Seq(DeleteAction(None)), Seq(), Seq()) =>
        MergeTableDmlCommand(rel.path, rel.keys, rel.mode, rel.numBuckets,
          m.sourceTable, MergeTableDmlCommand.Delete)
      case (Seq(), Seq(i), Seq()) if isInsertAll(i) =>
        MergeTableDmlCommand(rel.path, rel.keys, rel.mode, rel.numBuckets,
          sourceAsTarget, MergeTableDmlCommand.InsertOnly)
      case _ =>
        // the general ANSI surface: conditional / multiple clauses,
        // partial SET (both-sides expressions), NOT MATCHED BY SOURCE
        MergeTableDmlCommand(rel.path, rel.keys, rel.mode, rel.numBuckets,
          generalMerge(m, rel, fail), MergeTableDmlCommand.Apply)
    }
  }

  /** The general ANSI MERGE compiler: ONE outer join of target and
    * source (the plan shape Iceberg/Delta use for MERGE — the target
    * is scanned once, no branch union, no relation duplication) under
    * one Project whose rows carry the target schema plus a routing
    * column `_op` (`U` → upsert, `D` → delete key, `K` → no clause
    * claimed the row; dropped by the command).
    *
    * Row membership comes from constant-true marker columns projected
    * under each join side (null after a non-matching outer join), so
    * nullable data columns can't confuse the clause groups. The join
    * type is the cheapest that feeds the clauses present: inner for
    * matched-only, right-outer when INSERT clauses need unmatched
    * source rows, left-outer for NOT MATCHED BY SOURCE, full-outer
    * for both.
    *
    * Every clause group folds into ONE SQL CASE chain in clause order
    * (first match wins, matching ANSI MERGE), and every target column
    * gets a CASE aligned on the SAME chain — update/insert values for
    * its clause, the target's value under DELETE clauses — so a row's
    * values always come from the clause that claimed it. SET values
    * and matched conditions may reference both sides
    * (`SET v = t.v + s.inc` is the read-modify-write form);
    * NOT MATCHED clauses must reference only the source and
    * NOT MATCHED BY SOURCE only the target (checked here — in an
    * outer join the other side is null, which would silently evaluate
    * instead of failing). Unassigned non-key columns under an INSERT
    * clause insert NULL. SET of a PK column and INSERT clauses that
    * don't assign the full PK are rejected.
    */
  private def generalMerge(m: MergeIntoTable, rel: DmlTarget,
      fail: String => Nothing): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, CaseWhen, Cast, IsNotNull, Literal, Not}
    import org.apache.spark.sql.catalyst.plans.{FullOuter, LeftOuter, RightOuter}
    val target = m.targetTable
    val source = m.sourceTable
    val tCols = target.output

    def aliasOf(p: LogicalPlan): Option[String] = p match {
      case SubqueryAlias(id, _) => Some(id.name)
      case _ => None
    }
    def cond(a: MergeAction): Expression = a.condition.getOrElse(Literal(true))
    // the analyzer may have ALIGNED the assignment list (identity
    // assignments added for untouched columns, PK included) before
    // this rule fires. A same-named attribute assigned to a PK column
    // is a no-op whichever side it names: the ON clause already pins
    // t.pk = s.pk on matched rows, and NOT-MATCHED-BY-SOURCE rows have
    // no source. Anything else targeting a PK column is a key rewrite
    // and is rejected. PK values are then always taken from the target
    // attribute itself, so stale aligned references never reach the
    // plan.
    def identityOnKey(k: String, v: Expression): Boolean = v match {
      case a: Attribute => a.name.equalsIgnoreCase(k)
      case u: UnresolvedAttribute => u.nameParts.last.equalsIgnoreCase(k)
      case _ => false
    }
    def checkAssignments(assignments: Seq[Assignment]): Unit = assignments.foreach { as =>
      val k = attrName(as.key).getOrElse(fail(s"unsupported SET key: ${as.key.sql}"))
      if (rel.keys.exists(_.equalsIgnoreCase(k)) && !identityOnKey(k, as.value))
        fail(s"cannot SET primary-key column $k")
      if (!tCols.exists(_.name.equalsIgnoreCase(k)))
        fail(s"SET column $k is not a column of the target table")
    }
    // one-sided clauses silently see NULLs for the other side after the
    // outer join — reject the reference instead of mis-evaluating
    def requireNoRefs(e: Expression, side: LogicalPlan, clause: String): Unit = {
      val alias = aliasOf(side)
      e.foreach {
        case a: Attribute if side.outputSet.contains(a) =>
          fail(s"$clause may not reference column ${a.name} of the other side")
        case u: UnresolvedAttribute
            if u.nameParts.length == 2 && alias.exists(_.equalsIgnoreCase(u.nameParts.head)) =>
          fail(s"$clause may not reference column ${u.name} of the other side")
        case _ => ()
      }
    }
    def assigned(assignments: Seq[Assignment], a: Attribute): Option[Expression] =
      assignments.find(as => attrName(as.key).exists(_.equalsIgnoreCase(a.name)))
        .map(as => Cast(as.value, a.dataType))
    // UPDATE clauses: PK assignments are identity-only (checked above),
    // so the PK value always comes from the target attribute itself —
    // aligned assignments may carry stale attribute references
    def assignedOrTarget(assignments: Seq[Assignment], a: Attribute): Expression =
      if (rel.keys.exists(_.equalsIgnoreCase(a.name))) a
      else assigned(assignments, a).getOrElse(a)
    def sourceCol(name: String): Attribute =
      source.output.find(_.name.equalsIgnoreCase(name))
        .getOrElse(fail(s"INSERT/SET * requires source column $name"))
    def opOf(a: MergeAction): String = a match {
      case _: DeleteAction => MergeTableDmlCommand.OpDelete
      case _ => MergeTableDmlCommand.OpUpsert
    }

    m.matchedActions.foreach {
      case UpdateAction(_, assignments, _) => checkAssignments(assignments)
      case _: UpdateStarAction | _: DeleteAction => ()
      case other => fail(s"unsupported WHEN MATCHED action: $other")
    }
    m.notMatchedActions.foreach {
      case InsertAction(c, assignments) =>
        val names = assignments.flatMap(as => attrName(as.key)).map(_.toLowerCase).toSet
        if (!rel.keys.forall(k => names.contains(k.toLowerCase)))
          fail(s"INSERT must assign every primary-key column (${rel.keys.mkString(", ")})")
        (c.toSeq ++ assignments.map(_.value))
          .foreach(requireNoRefs(_, target, "WHEN NOT MATCHED"))
      case InsertStarAction(c) =>
        c.foreach(requireNoRefs(_, target, "WHEN NOT MATCHED"))
      case other => fail(s"unsupported WHEN NOT MATCHED action: $other")
    }
    m.notMatchedBySourceActions.foreach {
      case UpdateAction(c, assignments, _) =>
        checkAssignments(assignments)
        (c.toSeq ++ assignments.map(_.value))
          .foreach(requireNoRefs(_, source, "WHEN NOT MATCHED BY SOURCE"))
      case DeleteAction(c) =>
        c.foreach(requireNoRefs(_, source, "WHEN NOT MATCHED BY SOURCE"))
      case other => fail(s"unsupported WHEN NOT MATCHED BY SOURCE action: $other")
    }

    val tgtMark = Alias(Literal(true), "_graft_tgt_m")()
    val srcMark = Alias(Literal(true), "_graft_src_m")()
    val joinType = (m.notMatchedActions.nonEmpty, m.notMatchedBySourceActions.nonEmpty) match {
      case (true, true) => FullOuter
      case (true, false) => RightOuter
      case (false, true) => LeftOuter
      case (false, false) => Inner
    }
    val joined = Join(
      Project(target.output :+ tgtMark, target),
      Project(source.output :+ srcMark, source),
      joinType, Some(m.mergeCondition), JoinHint.NONE)
    val tgtPresent: Expression = IsNotNull(tgtMark.toAttribute)
    val srcPresent: Expression = IsNotNull(srcMark.toAttribute)

    // (guard, op, value-of-target-column) per clause, in ANSI order
    val chain: Seq[(Expression, String, Attribute => Expression)] =
      m.matchedActions.map { act =>
        val value: Attribute => Expression = act match {
          case UpdateStarAction(_) => a => Cast(sourceCol(a.name), a.dataType)
          case UpdateAction(_, assignments, _) => a => assignedOrTarget(assignments, a)
          case _ => a => a // DELETE: key columns from the target row
        }
        (And(And(tgtPresent, srcPresent), cond(act)), opOf(act), value)
      } ++
      m.notMatchedActions.map { act =>
        val value: Attribute => Expression = act match {
          case InsertStarAction(_) => a => Cast(sourceCol(a.name), a.dataType)
          case InsertAction(_, assignments) =>
            a => assigned(assignments, a).getOrElse(Literal.create(null, a.dataType))
          case _ => a => a
        }
        (And(And(srcPresent, Not(tgtPresent)), cond(act)),
          MergeTableDmlCommand.OpUpsert, value)
      } ++
      m.notMatchedBySourceActions.map { act =>
        val value: Attribute => Expression = act match {
          case UpdateAction(_, assignments, _) => a => assignedOrTarget(assignments, a)
          case _ => a => a
        }
        (And(And(tgtPresent, Not(srcPresent)), cond(act)), opOf(act), value)
      }
    if (chain.isEmpty) fail("MERGE needs at least one WHEN clause")
    val opExpr = CaseWhen(chain.map { case (g, o, _) => g -> Literal(o) },
      Some(Literal(MergeTableDmlCommand.OpKeep)))
    val cols = tCols.map { a =>
      Alias(CaseWhen(chain.map { case (g, _, v) => g -> v(a) }, Some(a)), a.name)()
    }
    Project(cols :+ Alias(opExpr, MergeTableDmlCommand.OpCol)(), joined)
  }

  /** Column names from a conjunction of same-name equality predicates
    * (`t.k = s.k [AND …]`), or None if any conjunct has another shape
    * or fails `sides` (the target-column-vs-source-column check).
    * Works on both unresolved (first analyzer pass) and resolved attrs.
    */
  private def keyEqualities(e: Expression,
      sides: (Expression, Expression) => Boolean,
      strip: Expression => Expression): Option[Seq[String]] = e match {
    case And(l, r) =>
      for (a <- keyEqualities(l, sides, strip); b <- keyEqualities(r, sides, strip))
        yield a ++ b
    case EqualTo(l0, r0) =>
      val (l, r) = (strip(l0), strip(r0))
      (attrName(l), attrName(r)) match {
        case (Some(a), Some(b)) if a.equalsIgnoreCase(b) && sides(l, r) => Some(Seq(a))
        case _ => None
      }
    case _ => None
  }

  /** LOSSLESS widening casts on a key equality (`t.id = CAST(s.id AS
    * BIGINT)` from the analyzer, or user-written up-casts on either
    * side) are transparent for key NAMING: an up-cast is injective,
    * so the equality still pairs the two key attributes. Lossy casts
    * are NOT stripped — `CAST(s.name AS INT)` is a computed key, not
    * a key. Whether the pairing NARROWS (source key type wider than
    * the target's — rejected) is judged on the stripped attribute
    * types by `checkKeyWidth`, not on cast placement.
    */
  private def stripUpCast(e: Expression): Expression =
    e match {
      case c: Cast if c.childrenResolved &&
          Cast.canUpCast(c.child.dataType, c.dataType) =>
        stripUpCast(c.child)
      case _ => e
    }

  private def attrName(e: Expression): Option[String] = e match {
    case a: Attribute => Some(a.name)
    case u: UnresolvedAttribute => Some(u.nameParts.last)
    case _ => None
  }

}

/** What DML needs to know about a target, whichever surface resolved
  * it: the `mergetable` format (DSv1 relation) or a `graft.db.t`
  * catalog identifier (DSv2 relation).
  */
private[sources] case class DmlTarget(path: String, keys: Seq[String],
                                      mode: String, numBuckets: Option[Int])

/** Eagerly-executed DML against a MergeTable root. The source plan is
  * captured at analysis time and re-analyzed at run — for Delete it is
  * `Filter(cond, target)`, so `DELETE FROM t WHERE p` reads the
  * current snapshot, keeps rows matching p, and deletes their keys.
  */
case class MergeTableDmlCommand(
    path: String,
    keys: Seq[String],
    mode: String,
    numBuckets: Option[Int],
    source: LogicalPlan,
    kind: String) extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(session: SparkSession): Seq[Row] = {
    val src = GraftSqlBridge.ofRows(session, source)
    // layout facts the relation does not carry (value partitioning)
    // come from the table's own metadata, so DML against a
    // partitioned table takes the partition-scoped merge path
    val partitions = MergeTable.readMeta(path).map(_.partitionCols).getOrElse(Nil)
    // forWrite: under an active spark.graft.wap.branch the DML lands
    // on the branch (forked from the current head on first write);
    // the source plan's target reads resolve the same branch through
    // the catalog's load-time routing, so read and write agree
    val t = MergeTable.forWrite(session, path, keys, mode, numBuckets,
      partitionCols = partitions)
    kind match {
      case MergeTableDmlCommand.Upsert =>
        t.upsert(requireUniqueKeys(src))
      case MergeTableDmlCommand.Update =>
        // UPDATE's source is a projection of the target snapshot —
        // PK-unique by the table invariant, so the MERGE cardinality
        // aggregation would be a full extra scan that can never fire
        t.upsert(src)
      case MergeTableDmlCommand.InsertOnly =>
        // an empty (created-but-never-committed) table has no keys to
        // anti-join against — every source row is unmatched
        if (!t.exists) t.upsert(requireUniqueKeys(src))
        else t.upsert(requireUniqueKeys(src)
          .join(t.read().select(keys.map(col): _*), keys, "left_anti"))
      case MergeTableDmlCommand.Delete =>
        // deleting from an empty table matches nothing: a no-op, not
        // an error (ANSI DELETE/MERGE-DELETE semantics)
        if (t.exists) {
          // metadata-only fast path: a predicate proven
          // partition-COMPLETE (every row of a matched dir satisfies
          // it — retention's `ts < cutoff` on a day-partitioned
          // table) drops whole pv dirs in one commit, zero data I/O.
          // Anything else — or any layout holding rows outside pv
          // dirs — takes the row-level delete below.
          val metaOnly = MergeTableDmlCommand
            .partitionDropKeep(session, path, source)
            .flatMap(t.deletePartitions)
          if (metaOnly.isEmpty)
            t.delete(src.select(keys.map(col): _*).distinct())
        }
      case MergeTableDmlCommand.Apply =>
        // general MERGE: rows routed by `_op` (see generalMerge).
        // localCheckpoint: the routing plan embeds the CURRENT target
        // snapshot — materialize it once so the cardinality check, the
        // probe and the write don't re-run the joins
        val all = src.filter(col(MergeTableDmlCommand.OpCol) =!=
          MergeTableDmlCommand.OpKeep).localCheckpoint()
        requireUniqueKeys(all)
        val present = all.groupBy(MergeTableDmlCommand.OpCol).count()
          .collect().map(_.getString(0)).toSet // ≤ 2 rows: U, D
        val ups = all.filter(col(MergeTableDmlCommand.OpCol) ===
          MergeTableDmlCommand.OpUpsert).drop(MergeTableDmlCommand.OpCol)
        val dels = all.filter(col(MergeTableDmlCommand.OpCol) ===
          MergeTableDmlCommand.OpDelete)
        // the cardinality check makes the two key sets disjoint, so
        // the upserts and the deletes land in ONE commit
        val (hasUps, hasDels) = (present(MergeTableDmlCommand.OpUpsert),
          present(MergeTableDmlCommand.OpDelete))
        t.replaceKeys(Option.when(hasUps)(ups), Option.when(hasDels)(dels),
          op = if (hasUps && hasDels) "merge" else if (hasUps) "upsert" else "delete")
    }
    Seq.empty
  }

  /** MERGE cardinality check (the error Iceberg/Delta raise): a source
    * with duplicate join keys would silently write duplicate-PK rows
    * through upsert. One aggregation, short-circuited at one row.
    */
  private def requireUniqueKeys(src: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{count, lit}
    val dup = src.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_n"))
      .filter(org.apache.spark.sql.functions.col("_n") > 1).limit(1).collect()
    if (dup.nonEmpty)
      throw new IllegalStateException(
        s"MERGE INTO mergetable: source has multiple rows for key " +
          s"(${keys.mkString(", ")}) = (${dup.head.toSeq.dropRight(1).mkString(", ")}); " +
          "precombine the source to one row per key first")
    src
  }
}

object MergeTableDmlCommand {
  val Upsert = "upsert"
  val Update = "update" // upsert of a target-snapshot projection: skips the cardinality check
  val InsertOnly = "insert_only"
  val Delete = "delete"
  val Apply = "apply"

  /** Routing column + values for the general-MERGE plan. A matched
    * row claimed by no clause routes to `K` and is dropped — per-key
    * uniqueness is checked across the claimed rows only.
    */
  val OpCol = "_op"
  val OpUpsert = "U"
  val OpDelete = "D"
  val OpKeep = "K"

  /** Decide whether a DELETE's predicate is PARTITION-COMPLETE — every
    * row of any matched pv dir satisfies it — and if so compile the
    * leaf-dir drop decision. Accepted conjuncts:
    *
    *  - predicates referencing ONLY identity partition columns (every
    *    row of a dir shares its partition values, so a partition-col
    *    predicate decides the whole dir);
    *  - on a hidden day partition: `ts < cutoff` / `ts >= cutoff`
    *    with the cutoff EXACTLY at midnight — the retention shape —
    *    which translate to strict/inclusive day-string bounds that
    *    cover matched dirs completely.
    *
    * Anything else (a data-column conjunct, a mid-day cutoff, an
    * equality on the source timestamp) returns None and the caller
    * runs the exact row-level delete. The whole conjunction must
    * translate — one undecidable conjunct poisons the fast path, or
    * the delete would drop MORE rows than the predicate matched.
    */
  def partitionDropKeep(session: SparkSession, path: String,
                        source: LogicalPlan): Option[String => Boolean] = {
    val meta = MergeTable.readMeta(path).getOrElse(return None)
    if (meta.partitionCols.isEmpty) return None
    val cond = source match {
      case Filter(c, _) => c
      case _ => return None
    }
    val conjuncts = {
      def split(e: Expression): Seq[Expression] = e match {
        case And(l, r) => split(l) ++ split(r)
        case other => Seq(other)
      }
      split(cond)
    }
    // minimal catalyst→source translation for the shapes the drop
    // decision accepts: attribute-vs-literal comparisons (both
    // orders), IN over literals, IS [NOT] NULL — anything else
    // (casts, functions, Not, Or) refuses the fast path
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    def ext(l: ce.Literal): Any =
      CatalystTypeConverters.convertToScala(l.value, l.dataType)
    def translateOne(e: Expression): Option[org.apache.spark.sql.sources.Filter] = {
      import org.apache.spark.sql.sources
      e match {
        case ce.EqualTo(a: Attribute, l: ce.Literal) =>
          Some(sources.EqualTo(a.name, ext(l)))
        case ce.EqualTo(l: ce.Literal, a: Attribute) =>
          Some(sources.EqualTo(a.name, ext(l)))
        case ce.LessThan(a: Attribute, l: ce.Literal) =>
          Some(sources.LessThan(a.name, ext(l)))
        case ce.LessThan(l: ce.Literal, a: Attribute) =>
          Some(sources.GreaterThan(a.name, ext(l)))
        case ce.LessThanOrEqual(a: Attribute, l: ce.Literal) =>
          Some(sources.LessThanOrEqual(a.name, ext(l)))
        case ce.LessThanOrEqual(l: ce.Literal, a: Attribute) =>
          Some(sources.GreaterThanOrEqual(a.name, ext(l)))
        case ce.GreaterThan(a: Attribute, l: ce.Literal) =>
          Some(sources.GreaterThan(a.name, ext(l)))
        case ce.GreaterThan(l: ce.Literal, a: Attribute) =>
          Some(sources.LessThan(a.name, ext(l)))
        case ce.GreaterThanOrEqual(a: Attribute, l: ce.Literal) =>
          Some(sources.GreaterThanOrEqual(a.name, ext(l)))
        case ce.GreaterThanOrEqual(l: ce.Literal, a: Attribute) =>
          Some(sources.LessThanOrEqual(a.name, ext(l)))
        case ce.In(a: Attribute, vs) if vs.forall(_.isInstanceOf[ce.Literal]) =>
          Some(sources.In(a.name,
            vs.map(v => ext(v.asInstanceOf[ce.Literal])).toArray))
        case ce.IsNull(a: Attribute) => Some(sources.IsNull(a.name))
        case ce.IsNotNull(a: Attribute) => Some(sources.IsNotNull(a.name))
        case _ => None
      }
    }
    val translated = conjuncts.map(translateOne)
    if (translated.exists(_.isEmpty)) return None
    val bySrc: Map[String, String] = meta.derivedPartitions.map(_.swap)
    // a cutoff qualifies only EXACTLY on the granule boundary
    // (midnight for _day, first-of-month midnight for _month) — only
    // then does the granule bound cover matched dirs completely;
    // zone-free by construction (ntz/date sources only)
    def boundaryGranule(derivedCol: String, v: Any): Option[String] =
      PartitionDirFilter.granuleOf(derivedCol, v)
        .collect { case (g, true) => g }
    import org.apache.spark.sql.sources._
    val mapped: Seq[Option[org.apache.spark.sql.sources.Filter]] =
      translated.flatten.map {
        case f if f.references.nonEmpty &&
            f.references.forall(meta.partitionCols.contains) => Some(f)
        case LessThan(a, v) if bySrc.contains(a) =>
          boundaryGranule(bySrc(a), v).map(LessThan(bySrc(a), _))
        case GreaterThanOrEqual(a, v) if bySrc.contains(a) =>
          boundaryGranule(bySrc(a), v).map(GreaterThanOrEqual(bySrc(a), _))
        case _ => None
      }
    if (mapped.exists(_.isEmpty)) None
    else {
      val fs = mapped.flatten
      // mustMatch: every uncertainty (unknown shape — Not, nested Or —
      // unparseable value, absent column) refuses the drop; the
      // row-level fallback then applies the predicate exactly
      Some((leaf: String) =>
        fs.forall(f => PartitionDirFilter.mustMatch(leaf, meta.partitionCols, f)))
    }
  }
}
