package graft.table

import org.apache.spark.sql.catalyst.{expressions => ce}
import org.apache.spark.sql.{sources => sf}

/** Predicate → source-filter translation for the stats-based candidate
  * pruning of [[GraftTable]]'s copy-on-write rewrite (delete, update,
  * merge). Separated from the rewrite machinery so its SOUNDNESS
  * contract can be property-tested in isolation: for every
  * translated filter set, any file containing a row where the predicate
  * is TRUE must survive [[FilePrune.keep]] — pruning may only ever drop
  * files that provably contain no match. Untranslatable conjuncts simply
  * translate to nothing (conservative: more candidates, never fewer).
  *
  * Three review-pass lessons are encoded here and guarded by the property
  * test in DeletePruningSpec:
  *  - the analyzer wraps the NARROWER side of a comparison in a Cast —
  *    sometimes the attribute, sometimes the literal, and each IN-list
  *    element individually;
  *  - a cast target is only unwrappable when it is a monotone embedding
  *    whose stats-side conversion matches the row-side cast (Float
  *    targets are NOT: equality evaluates in rounded float while stats
  *    compare in exact double);
  *  - provably-unsatisfiable predicates (empty IN, literal false/null)
  *    must short-circuit to no candidates, because FilePrune treats an
  *    empty IN as "keep everything".
  */
private[table] object DeletePruning {

  private def ext(v: Any, dt: org.apache.spark.sql.types.DataType): Any =
    org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala(v, dt)

  def conjuncts(e: ce.Expression): Seq[ce.Expression] = e match {
    case ce.And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  import org.apache.spark.sql.types.{ByteType, DoubleType, FloatType, IntegerType, LongType, ShortType}
  private val intRank = Map[org.apache.spark.sql.types.DataType, Int](
    ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)

  /** A cast the analyzer inserts for a type-widened comparison is
    * unwrappable exactly when it is a MONOTONE embedding of the raw
    * column domain whose stats-side conversion ([[FilePrune.cmp]]'s
    * toDouble / integral compare) matches the row-side cast. NO Float
    * target: Catalyst then evaluates equality in float (which rounds)
    * while stats compare in double (which does not) — a row whose
    * float-rounded value equals the literal can sit in a file whose
    * double-domain bracket excludes it. Double targets are safe: the cast
    * applied to a row IS (up to the same non-strict monotone toDouble)
    * the conversion cmp applies to the stats, so min.toDouble ≤
    * cast(row) ≤ max.toDouble whenever the row matches. */
  private def monotoneWidening(from: org.apache.spark.sql.types.DataType,
                               to: org.apache.spark.sql.types.DataType): Boolean =
    (intRank.contains(from) && intRank.contains(to) && intRank(from) <= intRank(to)) ||
      ((intRank.contains(from) || from == FloatType) && to == DoubleType)

  /** Pushable attribute: bare, or under a sound widening cast. */
  object PA {
    def unapply(e: ce.Expression): Option[ce.AttributeReference] = e match {
      case a: ce.AttributeReference => Some(a)
      case ce.Cast(a: ce.AttributeReference, dt, _, _)
        if monotoneWidening(a.dataType, dt) => Some(a)
      case _ => None
    }
  }

  /** Any attribute-free deterministic foldable expression, evaluated to
    * its external value — the analyzer wraps the NARROWER side of a
    * comparison in a Cast, which can be the literal side just as well as
    * the attribute side (lit(11) against a LONG column), and IN-list
    * elements are likewise Cast(Literal) after type coercion; matching
    * bare Literal only would silently disable pruning for all of those. */
  object FV {
    def unapply(e: ce.Expression): Option[Any] =
      if (e.foldable && e.deterministic &&
          !e.exists(_.isInstanceOf[ce.AttributeReference]))
        try Some(ext(e.eval(), e.dataType))
        catch { case _: RuntimeException => None } // ANSI cast overflow etc.
      else None
  }

  def toFilter(e: ce.Expression): Option[sf.Filter] = e match {
    // a DISJUNCTION prunes only when BOTH arms translate (a matching row
    // satisfies one arm; FilePrune keeps the file if either arm might
    // match) — the common `id = 'a' OR id = 'b'` takedown previously
    // translated to nothing and rewrote the whole table
    case ce.Or(l, r) =>
      for { lf <- toFilter(l); rf <- toFilter(r) } yield sf.Or(lf, rf)
    // nested conjunction (inside an Or arm — top-level Ands are split by
    // [[conjuncts]]): partial translation is sound, a matching row
    // satisfies BOTH arms so either one alone only widens the keep set
    case ce.And(l, r) =>
      (toFilter(l), toFilter(r)) match {
        case (Some(lf), Some(rf)) => Some(sf.And(lf, rf))
        case (one, other) => one.orElse(other)
      }
    // `a <=> v` with v non-null is exactly `a = v` on non-null rows; the
    // v-null case (IS NULL semantics) stays untranslated — min/max stats
    // say nothing about nulls
    case ce.EqualNullSafe(PA(a), FV(v)) if v != null => Some(sf.EqualNullSafe(a.name, v))
    case ce.EqualNullSafe(FV(v), PA(a)) if v != null => Some(sf.EqualNullSafe(a.name, v))
    case ce.EqualTo(PA(a), FV(v)) => Some(sf.EqualTo(a.name, v))
    case ce.EqualTo(FV(v), PA(a)) => Some(sf.EqualTo(a.name, v))
    case ce.GreaterThan(PA(a), FV(v)) => Some(sf.GreaterThan(a.name, v))
    case ce.GreaterThan(FV(v), PA(a)) => Some(sf.LessThan(a.name, v))
    case ce.GreaterThanOrEqual(PA(a), FV(v)) => Some(sf.GreaterThanOrEqual(a.name, v))
    case ce.GreaterThanOrEqual(FV(v), PA(a)) => Some(sf.LessThanOrEqual(a.name, v))
    case ce.LessThan(PA(a), FV(v)) => Some(sf.LessThan(a.name, v))
    case ce.LessThan(FV(v), PA(a)) => Some(sf.GreaterThan(a.name, v))
    case ce.LessThanOrEqual(PA(a), FV(v)) => Some(sf.LessThanOrEqual(a.name, v))
    case ce.LessThanOrEqual(FV(v), PA(a)) => Some(sf.GreaterThanOrEqual(a.name, v))
    case ce.IsNull(a: ce.AttributeReference) => Some(sf.IsNull(a.name))
    case ce.IsNotNull(a: ce.AttributeReference) => Some(sf.IsNotNull(a.name))
    // the most common takedown shape: id IN (<list>) — non-empty only
    // (FilePrune keeps everything for an empty list; the empty case is
    // [[neverMatches]])
    case ce.In(PA(a), vs) if vs.nonEmpty =>
      val converted = vs.map(FV.unapply)
      if (converted.forall(_.isDefined)) Some(sf.In(a.name, converted.map(_.get).toArray))
      else None
    // defensive: live only when a caller hands an optimizer-folded
    // predicate (the analyzed plan keeps large lists as In)
    case ce.InSet(pa @ PA(a), hset) if hset.nonEmpty =>
      val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToScalaConverter(pa.dataType)
      Some(sf.In(a.name, hset.toArray.map(conv)))
    case _ => None
  }

  /** The predicate provably matches no row (empty IN list, literal
    * false/null conjunct): the caller must admit no candidate —
    * FilePrune would otherwise KEEP everything for an empty IN and a
    * no-arg isin() would rewrite the whole table as a copy. */
  def neverMatches(cond: Option[ce.Expression]): Boolean =
    cond.exists(c => conjuncts(c).exists {
      case ce.In(_, Seq()) => true
      case ce.InSet(_, s) if s.isEmpty => true
      case ce.Literal(false, _) => true
      case ce.Literal(null, _) => true
      case _ => false
    })

  def filtersFor(cond: Option[ce.Expression]): Seq[sf.Filter] =
    cond.toSeq.flatMap(conjuncts).flatMap(toFilter)

  /** Analyzed filter condition of `df.filter(predicate)` — resolution
    * happens here so unknown columns fail loudly at the caller. */
  def analyzedCondition(df: org.apache.spark.sql.DataFrame,
                        predicate: org.apache.spark.sql.Column): Option[ce.Expression] =
    df.filter(predicate).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }
}
