package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.TableChange
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Materialized views with automatic, freshness-gated query rewrite.
  *
  * `CREATE MATERIALIZED VIEW mv AS SELECT g1, g2, count(*) c, sum(x) s
  * FROM base GROUP BY g1, g2` materializes the aggregate as an ordinary
  * graft table and records, in table properties, the base table, the
  * SELECT text, the aggregation spec, and the base SNAPSHOT VERSION the
  * build read. [[GraftMvRewrite]] (an injected optimizer rule) then
  * rewrites any matching aggregate over the base — same grouping, a
  * ROLLUP to fewer columns, or a filter on grouped columns — to re-
  * aggregate the (many-orders-smaller) MV instead: COUNT(*)→SUM(c),
  * COUNT(x)→SUM(c_x), SUM(x)→SUM(s_x), MIN/MAX→MIN/MAX, and — when the
  * MV stores both COUNT(x) and SUM(x) — AVG(x)→SUM(s_x)/SUM(c_x) (exact
  * integral sum and non-null count; one final double division). At
  * 100 TB this turns a corpus scan into a scan of one small table, with
  * zero query changes.
  *
  * Correctness before speed, twice over:
  *  - the rewrite fires ONLY when the MV is provably FRESH — its recorded
  *    base version equals the base's current snapshot version (one side-
  *    file listing to check). A stale MV is silently ignored, never
  *    served; `REFRESH MATERIALIZED VIEW` rebuilds it and re-stamps the
  *    version. Time-travel reads of the base are never rewritten.
  *  - only provably-foldable shapes rewrite: plain grouping attributes, a
  *    subset of the MV's; COUNT(*) / SUM / MIN / MAX without DISTINCT or
  *    FILTER clauses; non-decimal SUMs (decimal re-summing widens the
  *    type); filters referencing only MV grouping columns (those commute
  *    with the aggregate). Anything else keeps the base plan.
  *
  * The reference has no MV machinery; this is part of the added engine
  * surface (SURVEY.md §2 extension), composing the existing snapshot
  * version log ([[Snapshots]]) for its freshness proof — the same
  * mechanism q87 uses for INCREMENTAL MV maintenance via the change feed.
  */
object MaterializedViews {
  /** On the MV table: the base table's full identifier. */
  val BaseProp = "graft.mv.base"
  /** On the MV table: the defining SELECT text (REFRESH re-runs it). */
  val SqlProp = "graft.mv.sql"
  /** On the MV table: serialized [[Spec]]. */
  val SpecProp = "graft.mv.spec"
  /** On the MV table: base snapshot version the current contents reflect. */
  val VersionProp = "graft.mv.base.version"
  /** On the BASE table: comma-joined idents of MVs built over it. */
  val RefsProp = "graft.mv.refs"
  /** On the MV table while an incremental fold is in flight: `since:until`.
    * Present = a previous incremental REFRESH may have died between its
    * MERGE and its version stamp, so whether the delta applied is
    * unknowable — the next REFRESH must recompute fully (idempotent
    * truncate-overwrite), never re-fold the same delta. */
  val PendingProp = "graft.mv.pending"
  /** Session kill-switch for the rewrite (default on). */
  val EnabledConf = "spark.graft.mv.rewrite.enabled"

  /** Guards MV maintenance (CREATE's CTAS, REFRESH's re-aggregation) from
    * being rewritten against the MV being maintained. */
  private val inMaintenance = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }
  private[sources] def maintaining[T](body: => T): T = {
    inMaintenance.set(true)
    try body finally inMaintenance.set(false)
  }
  private[sources] def isMaintaining: Boolean = inMaintenance.get()

  /** One MV output column: `kind` ∈ group|count|sum|min|max, `src` the
    * base column ("*" for count), `out` the MV column name. */
  final case class AggCol(kind: String, src: String, out: String)
  final case class Spec(cols: Seq[AggCol]) {
    def groups: Seq[AggCol] = cols.filter(_.kind == "group")
    def serialize: String =
      cols.map(c => s"${c.kind}:${c.src}:${c.out}").mkString(";")
  }
  def parseSpec(s: String): Spec =
    Spec(s.split(';').toSeq.filter(_.nonEmpty).map { part =>
      val Array(k, src, out) = part.split(":", 3)
      AggCol(k, src, out)
    })

  /** The ONE definition of "a SUM that re-folds exactly": integral types
    * only — double/float partial re-sums are order-dependent, decimal
    * re-sums widen the type. Shared by the rewrite's fold eligibility
    * and the incremental refresh's soundness gate so the two can never
    * drift. */
  def isIntegralSum(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType => true
    case _ => false
  }

  /** Current snapshot version of a graft table (0 = no commits yet). */
  /** The base table's LIVE head version — what freshness is stamped and
    * checked against. Must never be the max RECORDED snapshot: that can
    * be a crash orphan or an in-flight commit's not-yet-live record, and
    * pinning a read to one now throws the crashed-commit guard
    * ([[Snapshots.requireLiveHistory]]) — a REFRESH would fail until the
    * next base commit healed the orphan. The head pointer is
    * authoritative where present; legacy registries (no head line) fall
    * back to the newest live-chain version. */
  def currentVersion(dataDir: String): Long = {
    val dir = new Path(dataDir)
    val fs = dir.getFileSystem(new Configuration())
    TableStats.liveVersion(fs, dir).getOrElse {
      Snapshots.list(fs, dir).lastOption.map(_._1)
        .map(Snapshots.liveBaseline(fs, dir, _)).getOrElse(0L)
    }
  }

  /** Strip alias/plain-projection wrappers down to the relation. */
  @scala.annotation.tailrec
  private def unwrap(plan: LogicalPlan): LogicalPlan = plan match {
    case SubqueryAlias(_, child) => unwrap(child)
    case Project(projectList, child)
        if projectList.forall(_.isInstanceOf[AttributeReference]) => unwrap(child)
    case other => other
  }

  private def graftRelation(plan: LogicalPlan)
      : Option[(DataSourceV2Relation, GraftTable)] = unwrap(plan) match {
    case r: DataSourceV2Relation => r.table match {
      case g: GraftTable => Some((r, g))
      case _ => None
    }
    case s: DataSourceV2ScanRelation => s.relation.table match {
      case g: GraftTable => Some((s.relation, g))
      case _ => None
    }
    case _ => None
  }

  /** Validate + extract the MV definition from the ANALYZED select plan:
    * a single Aggregate over one graft table, grouping attributes plus
    * COUNT(*)/SUM/MIN/MAX aggregates of plain columns. Loud on anything
    * else — an MV that cannot serve the rewrite is a bug at CREATE time,
    * not silently at query time. */
  def extract(analyzed: LogicalPlan): (DataSourceV2Relation, GraftTable, Spec) = {
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"graft: CREATE MATERIALIZED VIEW supports a single " +
        s"COUNT(*)/COUNT(col)/SUM/MIN/MAX aggregate over one graft table " +
        s"(no WHERE/DISTINCT/FILTER/expressions; store COUNT(x) + SUM(x) " +
        s"and AVG(x) queries rewrite automatically); $why")
    analyzed match {
      case Aggregate(groupExprs, aggExprs, child, _) =>
        val (rel, table) = graftRelation(child).getOrElse(
          fail("the FROM clause is not a single graft table"))
        if (!groupExprs.forall(_.isInstanceOf[AttributeReference]))
          fail("GROUP BY must list plain columns")
        val groupIds = groupExprs.map(_.asInstanceOf[AttributeReference].exprId).toSet
        val cols = aggExprs.map {
          case ar: AttributeReference if groupIds.contains(ar.exprId) =>
            AggCol("group", ar.name, ar.name)
          case Alias(ar: AttributeReference, out) if groupIds.contains(ar.exprId) =>
            AggCol("group", ar.name, out)
          case Alias(ae: AggregateExpression, out) =>
            if (ae.isDistinct) fail(s"$out is DISTINCT")
            if (ae.filter.isDefined) fail(s"$out has a FILTER clause")
            ae.aggregateFunction match {
              case Count(Seq(Literal(1, _))) => AggCol("count", "*", out)
              case Count(Seq()) => AggCol("count", "*", out)
              // COUNT(col) — non-null count; with a SUM over the same
              // column it also serves AVG(col) queries via the rewrite
              case Count(Seq(ar: AttributeReference)) =>
                AggCol("countc", ar.name, out)
              case Sum(ar: AttributeReference, _) =>
                if (ar.dataType.isInstanceOf[DecimalType])
                  fail(s"$out sums a DECIMAL (re-summing widens the type)")
                AggCol("sum", ar.name, out)
              case Min(ar: AttributeReference) => AggCol("min", ar.name, out)
              case Max(ar: AttributeReference) => AggCol("max", ar.name, out)
              case other => fail(s"$out uses ${other.prettyName}")
            }
          case other => fail(s"unsupported select item ${other.name}")
        }
        (rel, table, Spec(cols))
      case _ => fail("the query is not a plain GROUP BY aggregate")
    }
  }

  private[sources] def identOf(rel: DataSourceV2Relation): Option[Seq[String]] =
    for (cat <- rel.catalog; id <- rel.identifier)
      yield (cat.name() +: id.namespace().toSeq) :+ id.name()

  /** What an incremental refresh can derive from the commits in
    * `(since, until]` — the routing decision REFRESH makes before
    * reading any data. */
  private[sources] sealed trait RangeClass
  /** Every live commit appended rows (or moved them without change —
    * compaction): the O(delta) fold path applies. */
  private[sources] case object RangeAppendOnly extends RangeClass
  /** The range mutates rows, but every mutation carries FULL preimages —
    * copy-on-write commits with recorded change files, partition-level
    * replaces (removed files are still on disk) — so the change feed can
    * name every affected group and the refresh recomputes exactly those
    * groups. */
  private[sources] case object RangeCdc extends RangeClass
  /** Some commit's row delta is unknowable at the row-value level:
    * RESTORE, unrecorded rewrites, or a snapshot already expired by
    * vacuum — only a full recompute is sound. (Merge-on-read deletes
    * are NOT opaque: their preimages are recovered from the prior
    * snapshot by the hydrated change feed — [[RangeCdc]].) */
  private[sources] case object RangeOpaque extends RangeClass

  /** Classify `(since, until]` from commit metadata alone (kind markers
    * + manifest diffs — O(#versions) side-file reads, no data I/O).
    * Mirrors the version walk of [[Snapshots.changes]]: WAP/aborted side
    * branches are skipped without advancing the baseline. */
  private[sources] def classifyRange(
      fs: org.apache.hadoop.fs.FileSystem, dataDir: Path,
      since: Long, until: Long): RangeClass = {
    def manifestAt(v: Long): Option[Map[String, TableStats.Entry]] =
      if (v == 0) Some(Map.empty) else Snapshots.read(fs, dataDir, v)
    var prev = manifestAt(Snapshots.liveBaseline(fs, dataDir, since))
      .getOrElse(return RangeOpaque)
    var cdc = false
    var v = since + 1
    while (v <= until) {
      val kind = ChangeLog.kindOf(fs, dataDir, v)
      if (!kind.contains(ChangeLog.Staged) && !kind.contains(ChangeLog.Aborted)) {
        val cur = manifestAt(v).getOrElse(return RangeOpaque)
        val removedData = (prev.keySet -- cur.keySet)
          .filterNot(GraftDeletes.isDeleteRel)
        val addedDeletes = (cur.keySet -- prev.keySet).exists(GraftDeletes.isDeleteRel)
        kind match {
          case Some(ChangeLog.Maintenance) => () // rows moved, not changed
          case Some(ChangeLog.Restore) => return RangeOpaque
          case Some(ChangeLog.Cow) =>
            // a COW commit without recorded change files (unkeyed table,
            // or recording disabled) has no replayable row delta
            if (ChangeLog.changeFiles(fs, dataDir, v).isEmpty) return RangeOpaque
            cdc = true
          case Some(ChangeLog.Replace) =>
            if (removedData.nonEmpty) cdc = true // full preimages on disk
          case None =>
            // an unrecorded rewrite has no row delta at all — opaque; a
            // merge-on-read delete records only KEYS, but the prior
            // snapshot still holds every deleted row — the HYDRATED
            // change feed recovers full preimages from one key-pruned
            // read of it, so the range stays derivable
            if (removedData.nonEmpty) return RangeOpaque
            if (addedDeletes) cdc = true
          case _ => () // Staged/Aborted: unreachable (filtered above)
        }
        prev = cur
      }
      v += 1
    }
    if (cdc) RangeCdc else RangeAppendOnly
  }
}

/** The injected optimizer rule (see [[MaterializedViews]] scaladoc). */
final case class GraftMvRewrite(session: SparkSession) extends Rule[LogicalPlan] {
  import MaterializedViews._

  private def enabled: Boolean =
    session.conf.get(EnabledConf, "true").toBoolean && !isMaintaining

  /** Per-apply caches: the fixed-point optimizer batch re-runs this rule
    * several times per query, and a plan can hold several aggregates over
    * one base — snapshot listings and MV table loads are paid ONCE per
    * rule invocation, never per match. Scoped to one apply() so no
    * staleness outlives a single optimization pass. */
  private final class Caches {
    val versions = scala.collection.mutable.Map[String, Long]()
    val loads = scala.collection.mutable.Map[String,
      Option[(GraftCatalog, org.apache.spark.sql.connector.catalog.Identifier, GraftTable)]]()
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else {
      val caches = new Caches
      plan.transformUp {
        case agg @ Aggregate(groupExprs, aggExprs, child, _) =>
          rewrite(groupExprs, aggExprs, child, caches).getOrElse(agg)
      }
    }

  /** The filter (if any) between the aggregate and the relation. */
  private def split(plan: LogicalPlan): (Option[Expression], LogicalPlan) =
    plan match {
      case SubqueryAlias(_, c) => split(c)
      case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) => split(c)
      case Filter(cond, c) =>
        val (inner, rel) = split(c)
        (inner.map(And(cond, _)).orElse(Some(cond)), rel)
      case other => (None, other)
    }

  private def rewrite(
      groupExprs: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      child: LogicalPlan,
      caches: Caches): Option[LogicalPlan] = {
    val (filterCond, relPlan) = split(child)
    val (baseRel, baseTable) = relPlan match {
      case r: DataSourceV2Relation => r.table match {
        case g: GraftTable => (r, g)
        case _ => return None
      }
      case s: DataSourceV2ScanRelation => s.relation.table match {
        case g: GraftTable => (s.relation, g)
        case _ => return None
      }
      case _ => return None
    }
    if (baseTable.pinned.isDefined) return None // time travel is historical
    val refs = Option(baseTable.properties().get(RefsProp))
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(return None)
    if (!groupExprs.forall(_.isInstanceOf[AttributeReference])) return None

    val baseVersion = caches.versions.getOrElseUpdate(
      baseTable.dataDir, currentVersion(baseTable.dataDir))
    refs.iterator.flatMap { mvIdent =>
      tryOne(mvIdent, baseVersion, groupExprs, aggExprs, filterCond, caches)
    }.nextOption()
  }

  private def tryOne(
      mvIdent: String,
      baseVersion: Long,
      groupExprs: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      filterCond: Option[Expression],
      caches: Caches): Option[LogicalPlan] = {
    val (cat, id, mv) = caches.loads.getOrElseUpdate(mvIdent,
      GraftViewBridge.resolveIdent(session, mvIdent.split('.').toSeq)
        .flatMap { case (c, i) =>
          scala.util.Try(c.loadTable(i)).toOption.collect {
            case g: GraftTable => (c, i, g)
          } // dangling ref (MV dropped out-of-band) caches as None
        }).getOrElse(return None)
    val props = mv.properties()
    val spec = Option(props.get(SpecProp)).map(parseSpec).getOrElse(return None)
    // freshness proof: the MV reflects exactly the base's current snapshot
    if (!Option(props.get(VersionProp)).map(_.toLong).contains(baseVersion))
      return None

    val mvRel = DataSourceV2Relation.create(mv, Some(cat), Some(id))
    def mvAttr(out: String): Option[AttributeReference] =
      mvRel.output.collectFirst {
        case a: AttributeReference if a.name == out => a
      }
    def groupCol(baseName: String): Option[AttributeReference] =
      spec.cols.collectFirst {
        case AggCol("group", src, out) if src == baseName => out
      }.flatMap(mvAttr)
    def aggCol(kind: String, src: String): Option[AttributeReference] =
      spec.cols.collectFirst {
        case AggCol(k, s, out) if k == kind && s == src => out
      }.flatMap(mvAttr)

    // every query grouping column must be one of the MV's grouping columns
    val groupMap: Map[ExprId, AttributeReference] = groupExprs.map {
      case ar: AttributeReference => ar.exprId -> groupCol(ar.name).getOrElse(return None)
    }.toMap
    // a filter commutes with the aggregate iff it touches only MV grouping
    // columns (each base group value maps to exactly one MV group value)
    val newFilter = filterCond.map { cond =>
      cond.transform {
        case ar: AttributeReference =>
          groupCol(ar.name).getOrElse(return None)
      }
    }
    def agg(fn: AggregateFunction): AggregateExpression =
      AggregateExpression(fn, Complete, isDistinct = false)
    val newAggs: Seq[NamedExpression] = aggExprs.map {
      case ar: AttributeReference if groupMap.contains(ar.exprId) =>
        Alias(groupMap(ar.exprId), ar.name)(exprId = ar.exprId)
      case al @ Alias(ar: AttributeReference, _) if groupMap.contains(ar.exprId) =>
        Alias(groupMap(ar.exprId), al.name)(exprId = al.exprId)
      case al @ Alias(ae: AggregateExpression, _)
          if !ae.isDistinct && ae.filter.isEmpty =>
        val folded: Expression = ae.aggregateFunction match {
          case Count(Seq(Literal(1, _))) | Count(Seq()) =>
            // COUNT over an empty group set is 0, SUM is null — coalesce
            Coalesce(Seq(agg(Sum(aggCol("count", "*").getOrElse(return None))),
              Literal(0L, LongType)))
          case Count(Seq(ar: AttributeReference)) =>
            Coalesce(Seq(agg(Sum(aggCol("countc", ar.name).getOrElse(return None))),
              Literal(0L, LongType)))
          case Average(ar: AttributeReference, _) if isIntegralSum(ar.dataType) =>
            // AVG folds as exact-sum / exact-non-null-count: both MV
            // columns are integral, so the one final double division is
            // the only floating-point step (the base plan's Average
            // accumulates a DOUBLE running sum — equal whenever the
            // exact sum is < 2^53, i.e. everywhere that matters for an
            // integral column). NULL sum / zero count yields NULL, the
            // all-NULL-group semantics of AVG.
            val s = aggCol("sum", ar.name).getOrElse(return None)
            val c = aggCol("countc", ar.name).getOrElse(return None)
            Divide(
              Cast(agg(Sum(s)), org.apache.spark.sql.types.DoubleType),
              Cast(agg(Sum(c)), org.apache.spark.sql.types.DoubleType))
          case Sum(ar: AttributeReference, _) if isIntegralSum(ar.dataType) =>
            agg(Sum(aggCol("sum", ar.name).getOrElse(return None)))
          case Min(ar: AttributeReference) =>
            agg(Min(aggCol("min", ar.name).getOrElse(return None)))
          case Max(ar: AttributeReference) =>
            agg(Max(aggCol("max", ar.name).getOrElse(return None)))
          case _ => return None
        }
        Alias(folded, al.name)(exprId = al.exprId)
      case _ => return None
    }
    val newGroups: Seq[Expression] = groupExprs.map {
      case ar: AttributeReference => groupMap(ar.exprId)
    }
    val scanned: LogicalPlan = newFilter.map(Filter(_, mvRel)).getOrElse(mvRel)
    Some(Aggregate(newGroups, newAggs, scanned))
  }
}

// --------------------------------------------------------------- DDL ----

final case class GraftCreateMvCommand(parts: Seq[String], selectSql: String)
    extends LeafRunnableCommand {
  import MaterializedViews._
  override val output: Seq[Attribute] = Seq(
    MaintenanceSql.attr("base_version", LongType))

  override def run(session: SparkSession): Seq[Row] = {
    val (cat, id) = GraftViewBridge.resolveIdent(session, parts).getOrElse(
      throw new IllegalArgumentException(
        s"graft: ${parts.mkString(".")} is not in a graft catalog"))
    val analyzed = session.sessionState
      .executePlan(session.sessionState.sqlParser.parsePlan(selectSql)).analyzed
    val (baseRel, baseTable, spec) = extract(analyzed)
    val baseIdent = identOf(baseRel).getOrElse(throw new IllegalArgumentException(
      "graft: cannot determine the base table's catalog identifier"))
    require(baseTable.pinned.isEmpty,
      "graft: a materialized view over a time-travel relation cannot stay fresh")
    // version BEFORE the build: a base commit racing the CTAS leaves the
    // recorded version behind the data => the MV reads as stale — safe
    val version = currentVersion(baseTable.dataDir)
    val mvName = parts.map(p => s"`$p`").mkString(".")
    maintaining {
      session.sql(s"CREATE TABLE $mvName AS $selectSql")
    }
    cat.alterTable(id,
      TableChange.setProperty(BaseProp, baseIdent.mkString(".")),
      TableChange.setProperty(SqlProp, selectSql),
      TableChange.setProperty(SpecProp, spec.serialize),
      TableChange.setProperty(VersionProp, version.toString))
    // register on the base so the rewrite can find us
    val (bCat, bId) = GraftViewBridge.resolveIdent(session, baseIdent).get
    val existing = Option(baseTable.properties().get(RefsProp))
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val self = parts.mkString(".")
    if (!existing.contains(self))
      bCat.alterTable(bId,
        TableChange.setProperty(RefsProp, (existing :+ self).mkString(",")))
    Seq(Row(version))
  }
}

/** `REFRESH MATERIALIZED VIEW mv` — INCREMENTAL when provably sound,
  * full recompute otherwise; the choice is automatic and invisible in
  * the result (values are identical either way). The range
  * `(recordedVersion, currentVersion]` is classified from commit
  * metadata ([[MaterializedViews.classifyRange]]) into one of three
  * tiers:
  *
  * APPEND-ONLY → fold path: read ONLY the appended rows (the same
  * verified incremental scan the change feed uses —
  * [[Snapshots.readManifest]] THROWS if any commit in the range rewrote
  * or removed files, the defense behind the metadata routing), aggregate
  * that delta to the MV's spec, and fold it in with one keyed MERGE:
  * counts and sums add, MIN/MAX fold with least/greatest (monotone under
  * inserts-only), new groups insert. At 100 TB this turns a nightly full
  * re-aggregation into a scan of one day's files. Requires integral SUM
  * columns — incremental double sums are bitwise order-dependent and
  * would drift from a full recompute.
  *
  * CDC (mutations with full preimages: copy-on-write DELETE/UPDATE/MERGE
  * with recorded change files, partition-level replaces) → group-repair
  * path ([[tryCdcIncremental]]): the change feed names every affected
  * group; groups touched only by inserts still FOLD in O(delta), groups
  * that lost rows are RECOMPUTED from the base pinned at
  * `currentVersion`, pruned by a semi-join on exactly those group keys
  * (broadcast + runtime-filterable into the scan), and groups whose
  * rows all vanished are DELETED from the MV. One MERGE applies all
  * three. Exact for every spec shape — min/max under deletion, sums
  * that must return to NULL, double sums (recomputed, never folded) —
  * because a repaired group's values come from a real aggregation over
  * all of the group's rows, the same computation a full recompute runs.
  * At 100 TB a GDPR-delete touching 100 groups repairs 100 groups
  * instead of re-aggregating the corpus.
  *
  * Merge-on-read deletes record only KEYS, yet still route through the
  * cdc tier: the hydrated change feed recovers each deleted row's full
  * preimage from one key-pruned read of the prior snapshot
  * ([[Snapshots.changes]] `hydrateMor`).
  *
  * OPAQUE (RESTORE; unrecorded rewrites; vacuumed snapshots) → full
  * recompute, never wrong values. */
final case class GraftRefreshMvCommand(parts: Seq[String])
    extends LeafRunnableCommand with org.apache.spark.internal.Logging {
  import MaterializedViews._
  override val output: Seq[Attribute] = Seq(
    MaintenanceSql.attr("base_version", LongType),
    MaintenanceSql.attr("mode", org.apache.spark.sql.types.StringType))

  override def run(session: SparkSession): Seq[Row] = {
    val (cat, id) = GraftViewBridge.resolveIdent(session, parts).getOrElse(
      throw new IllegalArgumentException(
        s"graft: ${parts.mkString(".")} is not in a graft catalog"))
    val mv = cat.loadTable(id).asInstanceOf[GraftTable]
    val sql = Option(mv.properties().get(SqlProp)).getOrElse(
      throw new IllegalArgumentException(
        s"graft: ${parts.mkString(".")} is not a materialized view"))
    val base = mv.properties().get(BaseProp)
    val recorded = Option(mv.properties().get(VersionProp)).map(_.toLong)
    val spec = Option(mv.properties().get(SpecProp)).map(parseSpec)
    val (bCat, bId) = GraftViewBridge.resolveIdent(session, base.split('.').toSeq).get
    val baseTable = bCat.loadTable(bId).asInstanceOf[GraftTable]
    val version = currentVersion(baseTable.dataDir)
    val mvName = parts.map(p => s"`$p`").mkString(".")
    val baseName = base.split('.').map(p => s"`$p`").mkString(".")

    def integralSums: Boolean = spec.exists(_.cols.forall { c =>
      c.kind != "sum" ||
        mv.schema0.fields.find(_.name == c.out).exists(f => isIntegralSum(f.dataType))
    })

    // a pending marker means an earlier incremental attempt may have
    // half-applied (MERGE committed, stamp lost) — only a full recompute
    // is safe, and "noop" must not trust the stale stamp either
    val pending = mv.properties().get(PendingProp) != null
    def classified: RangeClass =
      try {
        val dir = new Path(baseTable.dataDir)
        classifyRange(dir.getFileSystem(new Configuration()), dir,
          recorded.get, version)
      } catch {
        // fail-safe routing: a classification failure (a kind marker
        // this binary doesn't know — ChangeLog.kindOf throws on unknown
        // strings from newer writers — or a metadata read error) must
        // land on the full recompute, never crash REFRESH
        case scala.util.control.NonFatal(_) => RangeOpaque
      }
    val mode =
      if (recorded.contains(version) && !pending) "noop"
      else {
        val incremental: Option[String] =
          // a groups-only MV (no aggregate columns) has no foldable or
          // repairable state — only DISTINCT semantics; recompute fully
          if (pending || recorded.isEmpty || spec.isEmpty ||
              !spec.get.cols.exists(_.kind != "group")) None
          else classified match {
            case RangeOpaque => None
            case rc =>
              if (rc == RangeAppendOnly && integralSums &&
                  tryIncremental(session, cat, id, mvName, baseName, spec.get,
                    recorded.get, version)) Some("incremental")
              // global (group-less) MVs gain nothing from group repair —
              // recomputing the one row IS the full recompute
              else if (spec.get.groups.nonEmpty &&
                  tryCdcIncremental(session, cat, id, mvName, baseName,
                    baseTable, spec.get, mv.schema0, integralSums,
                    recorded.get, version)) Some("incremental-cdc")
              else None
          }
        incremental.getOrElse {
          maintaining {
            session.sql(s"INSERT OVERWRITE TABLE $mvName $sql")
          }
          "full"
        }
      }
    if (mode != "noop")
      cat.alterTable(id,
        TableChange.setProperty(VersionProp, version.toString),
        TableChange.removeProperty(PendingProp))
    Seq(Row(version, mode))
  }

  /** Fold the appended delta into the MV; false = not incrementally
    * refreshable (a commit in the range rewrote files) → caller recomputes.
    * A [[MaterializedViews.PendingProp]] marker brackets the MERGE so a
    * crash between the fold and the version stamp can never lead to the
    * same delta being folded twice on retry. */
  private def tryIncremental(session: SparkSession, cat: GraftCatalog,
      id: org.apache.spark.sql.connector.catalog.Identifier, mvName: String,
      baseName: String, spec: Spec, since: Long, until: Long): Boolean = {
    var delta: org.apache.spark.sql.DataFrame = null
    try {
      val d = session.read
        .option("since-version", since)
        .option("snapshot-version", until)
        .table(baseName)
      val groups = spec.groups
      val aggCols = spec.cols.filter(_.kind != "group").map { c =>
        import org.apache.spark.sql.functions._
        c.kind match {
          case "count" => count(lit(1)).as(c.out)
          case "countc" => count(col(c.src)).as(c.out)
          case "sum" => sum(col(c.src)).as(c.out)
          case "min" => min(col(c.src)).as(c.out)
          case "max" => max(col(c.src)).as(c.out)
        }
      }
      delta = d.groupBy(groups.map(g =>
          org.apache.spark.sql.functions.col(g.src).as(g.out)): _*)
        .agg(aggCols.head, aggCols.tail: _*)
      // persist THEN count: forces the verified incremental scan NOW (a
      // COW commit in the range throws here, not mid-MERGE) and leaves
      // the grouped delta materialized on the EXECUTORS — the MERGE
      // below reads the cached result, so the delta scan + aggregate
      // runs exactly once and nothing group-count-sized ever lands on
      // the driver (a high-cardinality-group MV stays bounded)
      delta.persist()
      delta.count()
    } catch {
      // the verified scan's refusal may surface wrapped (analysis /
      // execution layers) — walk the cause chain; anything else is a
      // real error and must not silently degrade to a full recompute
      case scala.util.control.NonFatal(e) =>
        if (delta != null) delta.unpersist()
        // same degrade-to-full policy as tryCdcIncremental's derivation
        // phase: the verified scan's refusal surfaces wrapped, and any
        // other derivation failure is answered correctly by a recompute
        logWarning(s"graft: incremental refresh of $mvName not derivable " +
          s"(${e.getClass.getSimpleName}: ${e.getMessage}); recomputing fully")
        return false
    }
    val view = "graft_mv_delta_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    delta.createOrReplaceTempView(view)
    // from here to the caller's version stamp, a crash leaves the marker
    // behind and the next REFRESH recomputes fully instead of re-folding
    cat.alterTable(id,
      TableChange.setProperty(MaterializedViews.PendingProp, s"$since:$until"))
    try maintaining {
      val on =
        if (spec.groups.isEmpty) "1 = 1"
        else spec.groups.map(g => s"t.`${g.out}` <=> s.`${g.out}`").mkString(" AND ")
      val sets = spec.cols.filter(_.kind != "group").map { c =>
        c.kind match {
          // count(*) AND count(col): both emit 0 (never NULL) from the
          // delta aggregation, so a plain add folds exactly
          case "count" | "countc" => s"t.`${c.out}` = t.`${c.out}` + s.`${c.out}`"
          case "sum" =>
            s"t.`${c.out}` = CASE WHEN t.`${c.out}` IS NULL AND s.`${c.out}` IS NULL " +
              s"THEN NULL ELSE coalesce(t.`${c.out}`, 0) + coalesce(s.`${c.out}`, 0) END"
          case "min" => s"t.`${c.out}` = least(t.`${c.out}`, s.`${c.out}`)"
          case "max" => s"t.`${c.out}` = greatest(t.`${c.out}`, s.`${c.out}`)"
        }
      }.mkString(", ")
      val cols = spec.cols.map(c => s"`${c.out}`").mkString(", ")
      val vals = spec.cols.map(c => s"s.`${c.out}`").mkString(", ")
      session.sql(
        s"""MERGE INTO $mvName t USING $view s ON $on
           |WHEN MATCHED THEN UPDATE SET $sets
           |WHEN NOT MATCHED THEN INSERT ($cols) VALUES ($vals)""".stripMargin)
      true
    } finally {
      session.catalog.dropTempView(view)
      delta.unpersist()
    }
  }

  /** Group-repair incremental refresh over a range with row MUTATIONS
    * (see the class scaladoc's CDC tier). The change feed supplies full
    * pre/post images — recorded change files for copy-on-write, on-disk
    * removed files for replaces, and HYDRATED prior-snapshot rows for
    * merge-on-read deletes ([[Snapshots.changes]] `hydrateMor`); one pass
    * over it yields a per-group signed delta, and a single MERGE then
    *  - FOLDS groups touched only by inserts (O(delta), no base I/O) —
    *    integral sums only, exactly like the append fold;
    *  - RECOMPUTES groups that lost rows (and every affected group when
    *    sums are non-integral) from the base pinned at `until`, pruned
    *    by a semi-join on those group keys — the scan sees a
    *    broadcastable key set, so min/max ranges, partitions and blooms
    *    prune it to the files holding affected groups;
    *  - DELETES groups whose rows all vanished.
    * False = not derivable after all (racing vacuum/RESTORE, renamed
    * columns, delete-key cap) → caller recomputes fully. */
  private def tryCdcIncremental(session: SparkSession, cat: GraftCatalog,
      id: org.apache.spark.sql.connector.catalog.Identifier, mvName: String,
      baseName: String, baseTable: GraftTable, spec: Spec,
      mvSchema: org.apache.spark.sql.types.StructType, integralSums: Boolean,
      since: Long, until: Long): Boolean = {
    import org.apache.spark.sql.functions._
    // reserved working names must not collide with MV output columns
    if (spec.cols.exists(_.out.startsWith("__"))) return false
    val groups = spec.groups
    val aggs = spec.cols.filter(_.kind != "group")
    if (aggs.exists(c => !mvSchema.fieldNames.contains(c.out))) return false
    def mvType(out: String): String =
      mvSchema.fields.find(_.name == out).get.dataType.sql

    var delta: org.apache.spark.sql.DataFrame = null
    try {
      val cf = Snapshots.changes(session, baseTable, since, Some(until),
        hydrateMor = true)
      // +1 for rows entering the table, -1 for rows leaving it; an
      // update that moves a row between groups decrements the old group
      // and increments the new one through the same arithmetic
      val w = when(col(ChangeLog.TypeCol).isin("insert", "update_postimage"),
        lit(1L)).otherwise(lit(-1L))
      val aggCols = aggs.map { c =>
        c.kind match {
          case "count" => sum(w).cast(mvType(c.out)).as(c.out)
          // signed non-null count; coalesced to 0 so a fold-tier INSERT
          // of a new group whose delta rows are all NULL stores 0, the
          // same value a full recompute's count(col) would
          case "countc" => coalesce(sum(when(col(c.src).isNotNull, w)), lit(0L))
            .cast(mvType(c.out)).as(c.out)
          // null src values contribute no weight — SUM ignores nulls
          case "sum" => sum(when(col(c.src).isNotNull, w * col(c.src)))
            .cast(mvType(c.out)).as(c.out)
          // min/max deltas are only consulted by the FOLD tier, where
          // every row is an insert — removed rows are masked out
          case "min" => min(when(w > 0, col(c.src))).cast(mvType(c.out)).as(c.out)
          case "max" => max(when(w > 0, col(c.src))).cast(mvType(c.out)).as(c.out)
        }
      } :+ sum(when(w < 0, lit(1L)).otherwise(lit(0L))).as("__neg")
      delta = cf.groupBy(groups.map(g => col(g.src).as(g.out)): _*)
        .agg(aggCols.head, aggCols.tail: _*)
      // persist THEN count: the feed's version walk already ran eagerly
      // (refusals surfaced at the changes() call above); this forces the
      // one read of every change file and keeps the grouped delta on the
      // executors for the MERGE — nothing group-count-sized on the driver
      delta.persist()
      delta.count()
    } catch {
      // ANY failure to DERIVE the grouped delta degrades to the
      // (always-correct) full recompute instead of failing REFRESH: the
      // feed's refusals (renamed columns, delete-key cap, RESTORE,
      // unrecorded deltas) surface wrapped at varying depths, and a
      // racing vacuum can expire a preimage file between classifyRange's
      // metadata check and the executor read — an enumerated message
      // list can never stay complete. A silent route regression cannot
      // hide behind this: the oracle gates compare the refresh's
      // reported mode against the 'incremental-cdc' literal. Failures
      // AFTER the pending marker (the MERGE itself) still fail the
      // command — the marker forces the next refresh to full-recompute.
      case scala.util.control.NonFatal(e) =>
        if (delta != null) delta.unpersist()
        logWarning(s"graft: cdc-incremental refresh of $mvName not derivable " +
          s"(${e.getClass.getSimpleName}: ${e.getMessage}); recomputing fully")
        return false
    }
    val deltaView = "graft_mv_cdelta_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    delta.createOrReplaceTempView(deltaView)
    try {
      // integral sums fold exactly; anything else routes EVERY affected
      // group through recompute (a repaired double sum is a real
      // aggregation over the group's rows — same as a full recompute)
      val foldable = integralSums
      val nMutated =
        (if (foldable) delta.filter(col("__neg") > 0) else delta).count()
      val gOuts = groups.map(g => s"`${g.out}`")
      val aggOuts = aggs.map(c => s"`${c.out}`")
      val foldSelect =
        s"""SELECT ${(gOuts ++ aggOuts).mkString(", ")},
           |       true AS __present, 'fold' AS __mode
           |FROM $deltaView WHERE __neg = 0""".stripMargin
      val srcSql =
        if (nMutated == 0) foldSelect
        else {
          val mutWhere = if (foldable) "WHERE __neg > 0" else ""
          val semiOn = groups.map(g => s"m.`${g.out}` <=> b.`${g.src}`")
            .mkString(" AND ")
          val reAggs = aggs.map { c =>
            val expr = c.kind match {
              case "count" => "count(*)"
              case "countc" => s"count(b.`${c.src}`)"
              case k => s"$k(b.`${c.src}`)"
            }
            s"CAST($expr AS ${mvType(c.out)}) AS `${c.out}`"
          }
          val reGroups = groups.map(g => s"b.`${g.src}` AS `${g.out}`")
          val joinOn = groups.map(g => s"m.`${g.out}` <=> r.`${g.out}`")
            .mkString(" AND ")
          val recompSelect =
            s"""SELECT ${gOuts.map("m." + _).mkString(", ")},
               |       ${aggOuts.map("r." + _).mkString(", ")},
               |       r.__present, 'set' AS __mode
               |FROM mutated m LEFT JOIN recomputed r ON $joinOn""".stripMargin
          s"""WITH mutated AS (SELECT ${gOuts.mkString(", ")}
             |                 FROM $deltaView $mutWhere),
             |recomputed AS (
             |  SELECT ${(reGroups ++ reAggs).mkString(", ")}, true AS __present
             |  FROM (SELECT * FROM $baseName VERSION AS OF $until) b
             |  LEFT SEMI JOIN mutated m ON $semiOn
             |  GROUP BY ${groups.map(g => s"b.`${g.src}`").mkString(", ")}
             |)
             |${if (foldable) foldSelect + "\nUNION ALL\n" else ""}$recompSelect"""
            .stripMargin
        }
      val srcView = "graft_mv_csrc_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      session.sql(srcSql).createOrReplaceTempView(srcView)
      // marker bracket: a crash between the MERGE and the caller's
      // version stamp must force a full recompute, never a double fold
      cat.alterTable(id,
        TableChange.setProperty(MaterializedViews.PendingProp, s"$since:$until"))
      try maintaining {
        val on = groups.map(g => s"t.`${g.out}` <=> s.`${g.out}`").mkString(" AND ")
        val sets = aggs.map { c =>
          val t = s"t.`${c.out}`"; val sc = s"s.`${c.out}`"
          c.kind match {
            case "count" | "countc" =>
              s"$t = CASE WHEN s.__mode = 'fold' THEN $t + $sc ELSE $sc END"
            case "sum" =>
              s"$t = CASE WHEN s.__mode = 'fold' THEN " +
                s"(CASE WHEN $t IS NULL AND $sc IS NULL THEN NULL " +
                s"ELSE coalesce($t, 0) + coalesce($sc, 0) END) ELSE $sc END"
            case "min" =>
              s"$t = CASE WHEN s.__mode = 'fold' THEN least($t, $sc) ELSE $sc END"
            case "max" =>
              s"$t = CASE WHEN s.__mode = 'fold' THEN greatest($t, $sc) ELSE $sc END"
          }
        }.mkString(", ")
        val cols = spec.cols.map(c => s"`${c.out}`").mkString(", ")
        val vals = spec.cols.map(c => s"s.`${c.out}`").mkString(", ")
        session.sql(
          s"""MERGE INTO $mvName t USING $srcView s ON $on
             |WHEN MATCHED AND s.__mode = 'set' AND NOT coalesce(s.__present, false)
             |  THEN DELETE
             |WHEN MATCHED THEN UPDATE SET $sets
             |WHEN NOT MATCHED AND (s.__mode = 'fold' OR coalesce(s.__present, false))
             |  THEN INSERT ($cols) VALUES ($vals)""".stripMargin)
        true
      } finally session.catalog.dropTempView(srcView)
    } finally {
      session.catalog.dropTempView(deltaView)
      delta.unpersist()
    }
  }
}

/** `SHOW MATERIALIZED VIEWS IN ns` — every MV in the namespace with its
  * base, recorded base version, and LIVE freshness (recorded == base's
  * current snapshot version — the exact condition the rewrite checks). */
final case class GraftShowMvCommand(nsParts: Seq[String])
    extends LeafRunnableCommand {
  import MaterializedViews._
  override val output: Seq[Attribute] = Seq(
    MaintenanceSql.attr("name", org.apache.spark.sql.types.StringType),
    MaintenanceSql.attr("base", org.apache.spark.sql.types.StringType),
    MaintenanceSql.attr("base_version", LongType),
    MaintenanceSql.attr("fresh", org.apache.spark.sql.types.BooleanType))

  override def run(session: SparkSession): Seq[Row] = {
    val (cat, ns) = GraftViewBridge.resolveIdent(session, nsParts :+ "_")
      .map { case (c, id) => (c, id.namespace()) }.getOrElse(
        throw new IllegalArgumentException(
          s"graft: ${nsParts.mkString(".")} is not a graft namespace"))
    cat.listTables(ns).toSeq.flatMap { id =>
      scala.util.Try(cat.loadTable(id)).toOption.collect {
        case g: GraftTable if g.properties().get(SqlProp) != null =>
          val base = g.properties().get(BaseProp)
          val recorded = Option(g.properties().get(VersionProp))
            .map(_.toLong).getOrElse(-1L)
          val fresh = GraftViewBridge
            .resolveIdent(session, base.split('.').toSeq)
            .flatMap { case (bc, bid) =>
              scala.util.Try(bc.loadTable(bid)).toOption.collect {
                case bt: GraftTable =>
                  currentVersion(bt.dataDir) == recorded
              }
            }.getOrElse(false)
          Row(id.name(), base, recorded, fresh)
      }
    }.sortBy(_.getString(0))
  }
}

final case class GraftDropMvCommand(parts: Seq[String], ifExists: Boolean)
    extends LeafRunnableCommand {
  import MaterializedViews._
  override def run(session: SparkSession): Seq[Row] = {
    val (cat, id) = GraftViewBridge.resolveIdent(session, parts).getOrElse(
      throw new IllegalArgumentException(
        s"graft: ${parts.mkString(".")} is not in a graft catalog"))
    val mvOpt = scala.util.Try(cat.loadTable(id)).toOption.collect {
      case g: GraftTable => g
    }
    mvOpt match {
      case None =>
        if (!ifExists) throw new IllegalArgumentException(
          s"graft: materialized view ${parts.mkString(".")} does not exist")
      case Some(mv) =>
        if (mv.properties().get(SqlProp) == null) throw new IllegalArgumentException(
          s"graft: ${parts.mkString(".")} is a table, not a materialized view " +
            "(use DROP TABLE)")
        // deregister from the base first (a dangling ref is tolerated by
        // the rewrite, but keep metadata clean)
        Option(mv.properties().get(BaseProp)).foreach { base =>
          GraftViewBridge.resolveIdent(session, base.split('.').toSeq).foreach {
            case (bCat, bId) => scala.util.Try {
              val bt = bCat.loadTable(bId)
              val refs = Option(bt.properties().get(RefsProp))
                .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
              val self = parts.mkString(".")
              val left = refs.filterNot(_ == self)
              bCat.alterTable(bId,
                if (left.isEmpty) TableChange.removeProperty(RefsProp)
                else TableChange.setProperty(RefsProp, left.mkString(",")))
            }
          }
        }
        cat.dropTable(id)
    }
    Nil
  }
}
