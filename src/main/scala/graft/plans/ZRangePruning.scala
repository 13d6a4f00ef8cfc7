package graft.plans

import graft.operators.GeoOps
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Z2 range-pruning optimizer rule — the GeoMesa index-scan move
  * (coarse z-range + exact refine, cf. the `catalog_<sft>_z2` tables the
  * reference manipulates by name, /root/reference/geomesa_cassandra.py:48-52)
  * expressed as genuine Catalyst planning: when a filter bounds `lon` AND
  * `lat` on a relation that also carries the library's `z2` Morton key
  * column, inject the redundant-but-prunable conjunct
  * `z2 BETWEEN z(xmin,ymin) AND z(xmax,ymax)`.
  *
  * Soundness: the Morton interleave is monotone in each coordinate, so every
  * point inside the box has its z-key between the keys of the box's corner
  * points — the injected range can only cut false candidates, never rows the
  * original predicate keeps. The layout contract — this `z2` is the
  * 16-bit-scaled Morton key of the row's integral `lon`/`lat`, as produced
  * by [[graft.operators.GeoOps.z2Keys]] — is asserted by the
  * [[GeoOps.Z2Tag]] column-metadata tag, and the rule fires ONLY on tagged
  * columns: a user table with a same-named but differently-scaled `z2`
  * (no tag) is never touched. The tag survives parquet round-trips (Spark
  * stores column metadata in the footer schema), so stored layouts keep
  * their pruning eligibility.
  *
  * Why a rule and not a rewritten query: the z-range is what parquet
  * row-group min/max stats (and, on a z-partitioned 100 TB layout, partition
  * pruning) can actually use — but user queries are written against lon/lat.
  * Injecting the range at optimization time gives every bbox query the
  * index-scan plan without the user knowing z-curves exist. Registered via
  * [[GraftExtensions]] (`spark.sql.extensions=graft.plans.GraftExtensions`).
  */
object ZRangePruning extends Rule[LogicalPlan] {

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other     => Seq(other)
  }

  private def litLong(e: Expression): Option[Long] = e match {
    case Literal(v: Int, IntegerType) => Some(v.toLong)
    case Literal(v: Long, LongType)   => Some(v)
    case _                            => None
  }

  /** Closed [min, max] bounds a conjunct set places on column `name`;
    * None unless both sides are bounded by integral literals.
    */
  private def bounds(conjs: Seq[Expression], name: String): Option[(Long, Long)] = {
    var lo: Option[Long] = None
    var hi: Option[Long] = None
    def tightenLo(v: Long): Unit = lo = Some(lo.fold(v)(math.max(_, v)))
    def tightenHi(v: Long): Unit = hi = Some(hi.fold(v)(math.min(_, v)))
    conjs.foreach {
      case GreaterThanOrEqual(a: Attribute, l) if a.name == name => litLong(l).foreach(tightenLo)
      case LessThanOrEqual(a: Attribute, l) if a.name == name    => litLong(l).foreach(tightenHi)
      case GreaterThanOrEqual(l, a: Attribute) if a.name == name => litLong(l).foreach(tightenHi)
      case LessThanOrEqual(l, a: Attribute) if a.name == name    => litLong(l).foreach(tightenLo)
      case GreaterThan(a: Attribute, l) if a.name == name        => litLong(l).foreach(v => tightenLo(v + 1))
      case LessThan(a: Attribute, l) if a.name == name           => litLong(l).foreach(v => tightenHi(v - 1))
      case GreaterThan(l, a: Attribute) if a.name == name        => litLong(l).foreach(v => tightenHi(v - 1))
      case LessThan(l, a: Attribute) if a.name == name           => litLong(l).foreach(v => tightenLo(v + 1))
      case EqualTo(a: Attribute, l) if a.name == name            => litLong(l).foreach { v => tightenLo(v); tightenHi(v) }
      case EqualTo(l, a: Attribute) if a.name == name            => litLong(l).foreach { v => tightenLo(v); tightenHi(v) }
      case _                                                     =>
    }
    for (a <- lo; b <- hi) yield (a, b)
  }

  /** 16-bit grid scaling — must mirror [[GeoOps.scaled]] exactly. */
  private def sx(lon: Long): Long = (lon + 180) * 65535 / 360
  private def sy(lat: Long): Long = (lat + 90) * 65535 / 180

  /** 10-bit grid scaling — must mirror [[GeoOps.z3Keys]] exactly. */
  private def sx10(lon: Long): Long = (lon + 180) * 1023 / 360
  private def sy10(lat: Long): Long = (lat + 90) * 1023 / 180

  /** z2 BETWEEN corners, when the conjuncts box lon AND lat. Bounds are
    * clamped to the coordinate domain so the scaled corners stay
    * non-negative (the Morton encode is only monotone there).
    */
  private def z2Range(cs: Seq[Expression], z2: Attribute): Option[Expression] =
    (bounds(cs, "lon"), bounds(cs, "lat")) match {
      case (Some((lonLo, lonHi)), Some((latLo, latHi))) =>
        val (a, b) = (math.max(lonLo, -180L), math.min(lonHi, 179L))
        val (c, d) = (math.max(latLo, -90L), math.min(latHi, 89L))
        if (a > b || c > d) None
        else Some(And(
          GreaterThanOrEqual(z2, Literal(GeoOps.zMorton(sx(a), sy(c)))),
          LessThanOrEqual(z2, Literal(GeoOps.zMorton(sx(b), sy(d))))))
      case _ => None
    }

  /** z3 BETWEEN corners, when the conjuncts box lon AND lat AND the hour
    * bin `t10`. Time bounds sit on the *binned* column, not the raw
    * timestamp: mapping a ts range into its epoch's hour-bin range is the
    * query-side epoch step of a GeoMesa-style z3 index (the key is only
    * monotone in time within an epoch), so the rule fires on the layout
    * column whose monotonicity is contract-tagged.
    */
  private def z3Range(cs: Seq[Expression], z3: Attribute): Option[Expression] =
    (bounds(cs, "lon"), bounds(cs, "lat"), bounds(cs, "t10")) match {
      case (Some((lonLo, lonHi)), Some((latLo, latHi)), Some((tLo, tHi))) =>
        val (a, b) = (math.max(lonLo, -180L), math.min(lonHi, 179L))
        val (c, d) = (math.max(latLo, -90L), math.min(latHi, 89L))
        val (e, g) = (math.max(tLo, 0L), math.min(tHi, 1023L))
        if (a > b || c > d || e > g) None
        else Some(And(
          GreaterThanOrEqual(z3, Literal(GeoOps.zMorton3(sx10(a), sy10(c), e))),
          LessThanOrEqual(z3, Literal(GeoOps.zMorton3(sx10(b), sy10(d), g)))))
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, child) =>
      val cs = splitConjuncts(cond)
      def tagged(name: String, tag: String): Option[Attribute] =
        child.output.find(a =>
          a.name == name && a.dataType == LongType && a.metadata.contains(tag))
      // references.contains(attr) is the idempotence guard: once injected,
      // the condition references the key and the fixed-point pass skips it
      val injected = Seq(
        tagged("z2", GeoOps.Z2Tag).filterNot(cond.references.contains)
          .flatMap(z2Range(cs, _)),
        tagged("z3", GeoOps.Z3Tag).filterNot(cond.references.contains)
          .flatMap(z3Range(cs, _))).flatten
      if (injected.isEmpty) f
      else Filter(injected.foldLeft(cond)(And(_, _)), child)
  }
}

/** Session-extension entry point: `spark.sql.extensions=graft.plans.GraftExtensions`.
  * The optimizer rules [[ZRangePruning]] and [[graft.sources.TxEmptyScan]]
  * and the [[TopKPerKeyStrategy]] only accelerate: the library's queries
  * are correct without them. [[graft.sources.TxDmlRewrite]] is required:
  * it plans every read, DELETE, UPDATE and MERGE of a
  * [[graft.sources.TxCatalog]] table, and that catalog refuses a session
  * without this extension.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => ZRangePruning)
    ext.injectOptimizerRule(_ => graft.sources.TxEmptyScan)
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
    // the SQL catalog's reads and DML (MERGE INTO / UPDATE / DELETE) over
    // the commit-log format — the Delta post-hoc seam
    ext.injectPostHocResolutionRule(_ => graft.sources.TxDmlRewrite)
  }
}
