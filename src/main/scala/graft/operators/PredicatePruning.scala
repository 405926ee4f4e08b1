package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.unsafe.types.UTF8String

/** RESOLVED-predicate → candidate-file translation over a
  * [[GraftTable]]'s zone-map/Bloom tiers — shared by the DSv2 scan's
  * pruning file index (`org.apache.spark.sql.graft.GraftPrunedFileIndex`)
  * and the MUTATION planners ([[GraftTable.updateWhere]] /
  * [[GraftTable.deleteWhere]] / [[GraftTable.deleteWhereRewrite]]), so
  * a selective UPDATE/DELETE on a stats-tracked column discovers its
  * matched rows by reading CANDIDATE files only instead of scanning
  * every live file (the Delta data-skipping-on-the-write-path shape).
  *
  * CONSERVATIVE throughout: only a conjunct of a supported
  * (attribute ⋈ literal) form over a stats/Bloom column prunes;
  * everything else passes through and the real predicate still runs —
  * results are identical by construction, only I/O changes.
  */
object PredicatePruning {

  /** Observability for specs/probes: live vs candidate file counts of
    * the last mutation discovery that applied index pruning (-1 =
    * nothing pruned yet).
    */
  val lastMutationLiveFiles = new AtomicLong(-1)
  val lastMutationCandidateFiles = new AtomicLong(-1)

  /** IN/InSet lists up to this size probe per-value through the Bloom
    * tier ([[GraftTable.candidateFilesEqualsAnyVersioned]]); LARGER
    * lists prune in one sorted zone-map pass with no per-value Bloom
    * probes ([[GraftTable.candidateFilesInSortedVersioned]]) — one
    * binary search per file, a documented superset (Bloom would only
    * prune further). Both evaluate on the driver over the version's
    * resolved snapshot.
    */
  val BloomProbeMaxValues = 256

  /** A literal, or any deterministic foldable expression evaluated to
    * one — the analyzer wraps mutation-path literals in Casts
    * (`cents = 42` over a BIGINT column), which fold here instead of
    * defeating pruning.
    */
  private object Lit {
    def unapply(e: Expression): Option[Literal] = e match {
      case l: Literal => Some(l)
      case _ if e.foldable && e.deterministic =>
        scala.util.Try(Literal(e.eval(), e.dataType)).toOption
      case _ => None
    }
  }

  /** Catalyst literal → the external value the canonical stats
    * comparators accept (UTF8String → String; date/timestamp literals
    * are already canonical days/micros numbers).
    */
  private def externalValue(l: Literal): Option[Any] = l.value match {
    case null => None
    case u: UTF8String => Some(u.toString)
    case other => Some(other)
  }

  /** Candidate (table-relative) files at version `v` for ONE resolved
    * conjunct, or None if the conjunct does not constrain a prunable
    * column in a supported form.
    */
  def candidates(gt: GraftTable, e: Expression, v: Long): Option[Set[String]] = {
    val prunable: Set[String] = (gt.statsCols ++ gt.bloomCols).toSet
    def eq(c: String, l: Literal): Option[Set[String]] =
      if (!prunable.contains(c)) None
      else externalValue(l).map(x =>
        gt.candidateFilesEqualsVersioned(c, x, v).toSet)
    def range(c: String, lo: Option[Literal], hi: Option[Literal]): Option[Set[String]] =
      if (!prunable.contains(c)) None
      else {
        val loV = lo.flatMap(externalValue)
        val hiV = hi.flatMap(externalValue)
        if (loV.isEmpty && hiV.isEmpty) None
        else Some(gt.candidateFilesRangeAt(c, loV, hiV, v).toSet)
      }
    def anyOf(c: String, vals: Seq[Any]): Option[Set[String]] =
      if (!prunable.contains(c)) None
      else if (vals.size <= BloomProbeMaxValues)
        Some(gt.candidateFilesEqualsAnyVersioned(c, vals, v).toSet)
      else // one sorted zone-map pass — no per-value Bloom probes
        Some(gt.candidateFilesInSortedVersioned(c, vals, v).toSet)
    e match {
      case EqualTo(a: AttributeReference, Lit(l)) => eq(a.name, l)
      case EqualTo(Lit(l), a: AttributeReference) => eq(a.name, l)
      case EqualNullSafe(a: AttributeReference, Lit(l)) if l.value != null =>
        eq(a.name, l)
      case EqualNullSafe(Lit(l), a: AttributeReference) if l.value != null =>
        eq(a.name, l)
      // strict bounds pass the same bound inclusively — superset, safe
      case GreaterThan(a: AttributeReference, Lit(l)) => range(a.name, Some(l), None)
      case GreaterThanOrEqual(a: AttributeReference, Lit(l)) => range(a.name, Some(l), None)
      case LessThan(a: AttributeReference, Lit(l)) => range(a.name, None, Some(l))
      case LessThanOrEqual(a: AttributeReference, Lit(l)) => range(a.name, None, Some(l))
      case GreaterThan(Lit(l), a: AttributeReference) => range(a.name, None, Some(l))
      case GreaterThanOrEqual(Lit(l), a: AttributeReference) => range(a.name, None, Some(l))
      case LessThan(Lit(l), a: AttributeReference) => range(a.name, Some(l), None)
      case LessThanOrEqual(Lit(l), a: AttributeReference) => range(a.name, Some(l), None)
      case In(a: AttributeReference, vs) if vs.nonEmpty =>
        val lits = vs.map(Lit.unapply)
        if (lits.exists(_.isEmpty)) None
        else {
          val vals = lits.map(l => externalValue(l.get))
          if (vals.exists(_.isEmpty)) None
          else anyOf(a.name, vals.map(_.get))
        }
      // large IN lists arrive InSet-converted (optimizer threshold)
      case s: InSet if s.child.isInstanceOf[AttributeReference] =>
        val a = s.child.asInstanceOf[AttributeReference]
        val vals = s.hset.toSeq.filter(_ != null).map {
          case u: UTF8String => u.toString
          case other => other
        }
        if (vals.isEmpty) Some(Set.empty[String]) else anyOf(a.name, vals)
      case And(x, y) =>
        (candidates(gt, x, v), candidates(gt, y, v)) match {
          case (Some(a), Some(b)) => Some(a.intersect(b))
          case (a, b) => a.orElse(b)
        }
      case _ => None
    }
  }

  /** Flatten a predicate into its AND-conjuncts — shared by this
    * ladder and the row-level SQL translation (one definition; the
    * mutation planners, MERGE ON split and subquery-DML split must
    * never disagree on what a conjunct is).
    */
  def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case x => Seq(x)
  }

  /** Restrict a MUTATION's matched-row discovery scan to the live
    * `files` its predicate's prunable conjuncts allow. The unresolved
    * `cond` is resolved by analyzing `frame.filter(cond)` (no job — the
    * analyzer binds attributes and folds literal casts); unprunable or
    * unanalyzable predicates return `files` unchanged. Superset by
    * construction — the caller's real filter still runs over the
    * candidates, so the mutation's result is exactly what the full scan
    * would produce.
    */
  def mutationCandidates(gt: GraftTable, cond: Column,
                         frame: org.apache.spark.sql.DataFrame,
                         files: Seq[String], v: Long): Seq[String] = {
    val resolved: Seq[Expression] = scala.util.Try {
      frame.filter(cond).queryExecution.analyzed match {
        case f: logical.Filter => splitConjuncts(f.condition)
        case _ => Seq.empty[Expression]
      }
    }.getOrElse(Seq.empty)
      // mutation predicates speak LOGICAL column names; the stats/Bloom
      // tiers are keyed by the PHYSICAL (in-file) names — translate
      // (identity for unmapped tables; exprIds preserved)
      .map(_.transform {
        case a: AttributeReference => a.withName(gt.physicalName(a.name))
      })
    val sets = resolved.flatMap(e => candidates(gt, e, v))
    if (sets.isEmpty) files
    else {
      val keep = sets.reduce(_ intersect _)
      val out = files.filter(keep)
      lastMutationLiveFiles.set(files.size.toLong)
      lastMutationCandidateFiles.set(out.size.toLong)
      out
    }
  }
}
