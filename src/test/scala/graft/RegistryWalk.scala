package graft

import scala.util.control.NonFatal

import org.apache.spark.JobCounter
import org.apache.spark.sql.{DataFrame, GraftExpressionBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference,
  Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Distinct,
  GlobalLimit, Project, Window}

/** One walk over every registered query at sf0.001, shared by the
  * suite-wide checks: QueriesSpec's non-empty run, VacuitySpec, and
  * PlanSpec's unpartitioned-window, low-cardinality-window and
  * quadratic-join audits. Building a query is almost all fixed cost
  * (eager staging jobs and planning), so each query is built once, in
  * name order, and the walk keeps only the facts those checks read,
  * never the DataFrame, so its staged blocks stay reclaimable.
  *
  * Per query, [[visit]]:
  *  - builds it, keeping every job the build starts (its label and
  *    call site);
  *  - reads the plan facts before the query runs (AQE's final plan
  *    can re-plan a cartesian over tiny data, so the executed-plan
  *    string is the initial one);
  *  - runs the full plan once for its row count. `df.count()` would let
  *    Catalyst prune the final sort, derived columns and non-key
  *    aggregates.
  *
  * A non-fatal throw anywhere in that is kept in place of the facts, so
  * every check that reads the query fails and names it.
  */
object RegistryWalk {
  type Query = (SparkSession, String) => DataFrame

  /** A structurally unbounded window: its partition keys' names and,
    * unless the optimizer folded every key away, their distinct count
    * at sf0.001. */
  final case class WindowCand(keys: String, distinct: Option[Long])

  final case class Facts(
      buildJobs: Seq[JobCounter.Job],
      unkeyedWindows: Int,
      windowCands: Seq[WindowCand],
      cartesians: Int,
      nestedLoops: Int,
      rows: Long)

  final case class Visit(name: String, query: Query, facts: Either[Throwable, Facts])

  private def spark = SparkSpec.session

  lazy val all: Seq[Visit] = walk(SparkEntry.queries)

  def walk(registry: Map[String, Query]): Seq[Visit] =
    registry.toSeq.sortBy(_._1).map { case (name, q) => visit(name, q) }

  def visit(name: String, q: Query): Visit = Visit(name, q, try {
    val (df, buildJobs) = JobCounter.startedIn(spark.sparkContext)(q(spark, SparkSpec.Sf001))
    val unkeyed = df.queryExecution.optimizedPlan.collect {
      case w: Window if w.partitionSpec.isEmpty && w.child.collectFirst {
        case g: GlobalLimit => g
      }.isEmpty => w
    }.size
    val cands = windowCandidates(df)
    val p = df.queryExecution.executedPlan.toString
    val cart = "CartesianProduct".r.findAllIn(p).size
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    Right(Facts(buildJobs, unkeyed, cands, cart, bnlj, df.queryExecution.toRdd.count()))
  } catch { case NonFatal(e) => Left(e) })

  /** `check`'s findings over `visits`, each prefixed by its query's
    * name; a query whose visit threw is one finding of its own. */
  def offenders(visits: Seq[Visit])(check: (Visit, Facts) => Iterable[String]): Seq[String] =
    visits.flatMap { v =>
      v.facts.fold(e => Seq(s"${v.name} threw: $e"), f => check(v, f).map(d => s"${v.name}: $d"))
    }

  /** QueriesSpec's check: every query runs and returns rows. */
  def emptyResults(visits: Seq[Visit]): Seq[String] =
    offenders(visits)((_, f) => Option.when(f.rows == 0)("returned no rows on sf0.001"))

  /** VacuitySpec's check: the same, except for the queries that are
    * empty by design. */
  def vacuous(visits: Seq[Visit], emptyByDesign: Set[String]): Seq[String] =
    emptyResults(visits.filterNot(v => emptyByDesign(v.name)))

  // ---- low-cardinality window audit machinery (shared by the suite-
  // ---- wide test and its negative specs) --------------------------------

  /** A partition key with ≤ this many distinct values at sf0.001 is a
    * low-cardinality CANDIDATE (the fixed-domain columns — side, market
    * segment, ship mode, language, source — all measure 2–20 there);
    * whether it is an OFFENDER is decided by the growth probe below. */
  private val LowCardWindowThreshold = 24L

  /** A candidate whose distinct count grows by at least this factor
    * from sf0.001 to sf0.01 is an ENTITY key merely small at the tiny
    * fixture (users 15→150, suppliers 10→100) — per-group rows stay
    * bounded as data grows, so it is exempt. A fixed-domain key stays
    * flat (source 20→20, priority 5→5) and is flagged. */
  private val GrowthExemptRatio = 1.5

  /** Partition keys whose group count is fixed by CONTRACT and whose
    * per-group child rows are bounded by construction, not corpus-
    * scale: the retrieval/ANN probe set — every query_id's child is
    * its own ≤ k·cells candidate sliver (the q37 contract), so the
    * window state per group is k-bounded at any corpus size. The one
    * documented exception class; anything else fixed-domain must use
    * GroupedPrefix / saltedTopKPerGroup. */
  private val BoundedChildKeys = Set("query_id")

  /** Measured distinct-count probes are memoized on the child plan's
    * semantic hash — machinery shared across queries (staged tiers)
    * probes once per suite run. */
  private val probeCache =
    scala.collection.mutable.Map.empty[(Int, Seq[String]), Long]

  private def attrName(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case a: Alias => Some(a.name)
    case _: Literal => Some("__lit__")
    case _ => None
  }

  /** Distinct count of `w`'s partition tuple over its OWN child plan,
    * executed through the bridge. */
  private def probeDistinct(w: Window): Long = {
    val key = (w.child.semanticHash(), w.partitionSpec.map(_.sql))
    probeCache.getOrElseUpdate(key, {
      val aliased: Seq[NamedExpression] =
        w.partitionSpec.zipWithIndex.map {
          case (a: AttributeReference, _) => a
          case (e, i) => Alias(e, s"__p$i")()
        }
      GraftExpressionBridge
        .dataFrame(spark, Distinct(Project(aliased, w.child))).count()
    })
  }

  /** Windows surviving the STRUCTURAL exemptions — each one bounds the
    * per-group task state by construction:
    * (a) a GlobalLimit below (the contractual ≤k-row rank idiom);
    * (b) phase 2 of the salted grouped top-k — an inner window keyed by
    *     strictly MORE columns has already cut the child to ≤ k·salts
    *     rows per group;
    * (c) a collapsed value spine — an Aggregate below whose grouping
    *     keys strictly contain the partition keys (matched by OUTPUT
    *     name or exprId, so `groupBy(col("x").as("p"))` spines are
    *     seen), i.e. the child is a distinct-value domain, not the
    *     corpus;
    * (d) an engineered `__`-prefixed partition column (`__rng`,
    *     `__salt`, …): the scale operators' OWN machinery, whose range
    *     ids / salt cells are constructed to bound per-task rows — the
    *     very mechanism this audit pushes queries toward. */
  private def unboundedWindows(df: DataFrame): Seq[Window] = {
    def isGroupingOutput(ag: Aggregate, ne: NamedExpression): Boolean =
      ne match {
        case ar: AttributeReference =>
          ag.groupingExpressions.exists(_.semanticEquals(ar))
        case al: Alias =>
          ag.groupingExpressions.exists(g =>
            g.semanticEquals(al.child) || g.semanticEquals(al))
        case _ => false
      }
    def spineCovers(ag: Aggregate, p: Expression): Boolean = p match {
      case a: AttributeReference =>
        ag.aggregateExpressions.exists(ne =>
          isGroupingOutput(ag, ne) &&
            (ne.exprId == a.exprId || ne.name == a.name))
      case _ => false
    }
    df.queryExecution.optimizedPlan.collect {
      // An EMPTY spec covers the planted partitionBy(lit(1)) case: the
      // optimizer folds a constant partition key away, so the
      // degenerate single-group window arrives with no keys at all
      // (cardinality 1 — the limiting case of low).
      case w: Window
        if w.child.collectFirst { case g: GlobalLimit => g }.isEmpty &&
          w.child.collectFirst { case w2: Window
            if w2.partitionSpec.size > w.partitionSpec.size => w2
          }.isEmpty &&
          w.child.collectFirst { case ag: Aggregate
            if ag.groupingExpressions.size > w.partitionSpec.size &&
              w.partitionSpec.nonEmpty &&
              w.partitionSpec.forall(p => spineCovers(ag, p)) => ag
          }.isEmpty &&
          !w.partitionSpec.exists(p =>
            attrName(p).exists(_.startsWith("__"))) &&
          !(w.partitionSpec.nonEmpty && w.partitionSpec.forall(p =>
            attrName(p).exists(BoundedChildKeys))) => w
    }
  }

  private def keysOf(w: Window): String = w.partitionSpec.flatMap(attrName).mkString(",")

  /** [[unboundedWindows]] of `df`, each with its measured distinct count. */
  private def windowCandidates(df: DataFrame): Seq[WindowCand] =
    unboundedWindows(df).map(w =>
      WindowCand(keysOf(w), Option.when(w.partitionSpec.nonEmpty)(probeDistinct(w))))

  /** The audit proper: MEASURED low cardinality with a growth probe.
    * `build` constructs the query at a given sf dir; sf0.01 is built
    * lazily, only when some window measures ≤ threshold at sf0.001.
    * Offender = a structurally-unbounded window whose partition keys
    * measure ≤ LowCardWindowThreshold distinct at sf0.001 AND do not
    * grow ≥ GrowthExemptRatio× at sf0.01 (fixed domain, not an entity
    * key). Both planted shapes — partitionBy(lit(1)) and a fresh
    * 3-value column under any name — are caught; entity keys and the
    * documented exemption classes are not. */
  def lowCardOffenders(cands: Seq[WindowCand], build: String => DataFrame): Seq[String] = {
    lazy val at01: Map[String, Long] = {
      try {
        unboundedWindows(build(SparkSpec.Sf01))
          .groupBy(keysOf)
          .view.mapValues(_.map(probeDistinct).max).toMap
      } catch { case _: Throwable => Map.empty }
    }
    cands.flatMap {
      case WindowCand(_, None) => Some(s"[<folded-constant> single-group]")
      case WindowCand(label, Some(n001)) =>
        if (n001 > LowCardWindowThreshold) None
        else {
          val n01 = at01.getOrElse(label, 0L)
          if (n01.toDouble >= GrowthExemptRatio * n001) None
          else Some(s"[$label measured $n001@sf0.001, $n01@sf0.01 — " +
            "fixed-domain]")
        }
    }
  }

  /** [[lowCardOffenders]] of the query `build` makes at sf0.001. */
  def lowCardWindowOffenders(build: String => DataFrame): Seq[String] =
    lowCardOffenders(windowCandidates(build(SparkSpec.Sf001)), build)
}
